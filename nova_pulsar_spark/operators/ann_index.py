"""The stage store: persisted index artifacts and the session memo.

The IVF coarse quantizer, the PQ codebook, the sign-LSH band table and
the shared dedup/graph/rank stages are INDEX artifacts, not per-query
intermediates: at 100 TB they are built by a scheduled index job,
stored next to the corpus, and read by every probe query until
`llm_simsearch_ivf_stats` flags drift (cell imbalance / centroid
staleness), at which point the index job re-runs. Two tiers:

- ``load_or_build(spark, sf_dir, kind, build)`` round-trips an index
  frame through ``spark-warehouse/ann_index/<kind>/<corpus>-<fp>/``
  (or ``$SPARK_GRAFT_INDEX_DIR``): hit → one parquet read, miss →
  build, persist, read back.
- ``memo(spark, sf_dir, kind, make)`` keeps one value per (session,
  store, corpus, kind, fingerprint) in ``_MEMO``: hit → the stored
  value, no Spark job; miss → ``make()``, which typically reads
  ``load_or_build`` frames and materializes them the way its stage
  needs (a ``localCheckpoint``, a ``.cache()``, a collect, a count).
  Inserting a new fingerprint drops and unpersists the entry of the
  older one, so an in-session corpus rewrite neither serves stale
  frames nor keeps their blocks pinned.
- Staleness is structural, not advisory: both keys embed a CORPUS
  FINGERPRINT (sorted (name, length, mtime) of every file under the
  kind's source table, ``KIND_TABLES``, hashed). A regenerated or
  appended corpus changes the fingerprint, so probes stop matching the
  old index and the next probe triggers a rebuild — the stale index
  can never be silently read. Old-fingerprint directories are dead
  data; the janitor (``gc_stale``) can delete them any time.
- All I/O goes through Spark writers + the Hadoop FileSystem API
  (sources/layout.py helpers), so the index store works on any scheme
  the cluster can reach (hdfs://, s3a://, file://).

Write protocol: data first, ``_meta.json`` last (tmp + rename). A
reader trusts a directory only if the meta exists AND its recorded
fingerprint matches the current corpus — a crashed half-built index is
invisible. Concurrent builders of the same fingerprint write the same
deterministic content; last-writer-wins on the meta is benign.

Reference parity: the reference has no ANN layer; this is part of the
LLM-data-pipeline brief (similarity search and dedup at scale).
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from nova_pulsar_spark.sources.layout import _fs_read_text, _fs_write_text_atomic, _hadoop_path

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def index_root() -> str:
    """Index store root — env-overridable so tests (and multi-tenant
    deployments) can point builds elsewhere; read per call, not at
    import, so a monkeypatched env var takes effect immediately."""
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR", os.path.join(_REPO_ROOT, "spark-warehouse", "ann_index")
    )


def corpus_fingerprint(spark: SparkSession, sf_dir: str, table: str = "embeddings") -> str:
    """16-hex digest of the source table's file inventory: sorted
    (basename, length, mtime) triples. No data scan — a metadata-only
    listing, exactly what an index job can afford to check per probe
    batch. Any rewrite, append or regeneration perturbs it.

    Local paths take the ``os.stat`` fast path: each Hadoop
    ``FileStatus`` accessor is a driver↔JVM round trip (4+ per file),
    which r12 profiling measured at multiple ms each on the bench
    host — and this runs per probe. The triples are identical either
    way (Hadoop's getModificationTime is epoch-millis, exactly
    ``st_mtime_ns // 10**6``), so the digest — and therefore every
    stored index directory key — is unchanged by the fast path."""
    entries: list[tuple[str, int, int]] = []
    local_root = None
    if "://" not in sf_dir:
        local_root = os.path.join(sf_dir, f"{table}.parquet")
    elif sf_dir.startswith("file://"):
        local_root = os.path.join(sf_dir[len("file://"):], f"{table}.parquet")
    if local_root is not None and os.path.exists(local_root):
        def walk_local(path: str) -> None:
            for de in os.scandir(path):
                if de.is_dir():
                    walk_local(de.path)
                else:
                    st = de.stat()
                    entries.append((de.name, st.st_size, st.st_mtime_ns // 10**6))

        if os.path.isdir(local_root):
            walk_local(local_root)
        else:
            st = os.stat(local_root)
            entries.append(
                (os.path.basename(local_root), st.st_size, st.st_mtime_ns // 10**6)
            )
    else:
        fs, p = _hadoop_path(spark, sf_dir, f"{table}.parquet")

        def walk(path) -> None:
            for st in fs.listStatus(path):
                if st.isDirectory():
                    walk(st.getPath())
                else:
                    entries.append((st.getPath().getName(), st.getLen(), st.getModificationTime()))

        root = fs.getFileStatus(p)
        if root.isDirectory():
            walk(p)
        else:
            entries.append((root.getPath().getName(), root.getLen(), root.getModificationTime()))
    entries.sort()
    return hashlib.md5(json.dumps(entries).encode()).hexdigest()[:16]


# Which source table each kind fingerprints against, for the store,
# the memo and the janitor alike. Kinds not listed default to the
# embeddings table (the ANN artifacts). The dedup stages key on the
# documents fingerprint and the co-purchase graph on lineitem's, so a
# single "keep" fingerprint would mark every other table's LIVE index
# stale.
KIND_TABLES = {
    "dedup_mh": "documents",
    "dedup_cand": "documents",
    "dedup_ws": "documents",
    "dedup_candidates": "documents",
    "dedup_clusters": "documents",
    "graph_edges_w": "lineitem",
    "copurchase_census": "lineitem",
    "ranked_events": "events",
}


def _index_dir(sf_dir: str, kind: str, fp: str) -> str:
    name = os.path.basename(sf_dir.rstrip("/")) or "corpus"
    return os.path.join(index_root(), kind, f"{name}-{fp}")


def load_or_build(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the persisted index frame for (corpus, kind), building it
    if absent or stale. The returned frame reads FROM THE STORE (so
    its lineage is one parquet scan, never the build computation)."""
    table = KIND_TABLES.get(kind, "embeddings")
    fp = corpus_fingerprint(spark, sf_dir, table)
    dest = _index_dir(sf_dir, kind, fp)
    data_path = os.path.join(dest, "data")
    fresh = False
    try:
        meta = json.loads(_fs_read_text(spark, dest, "_meta.json"))
        fresh = meta.get("fingerprint") == fp
    except Exception:
        fresh = False
    if not fresh:
        build().write.mode("overwrite").parquet(data_path)
        _fs_write_text_atomic(
            spark,
            dest,
            "_meta.json",
            json.dumps(
                {"kind": kind, "source": os.path.join(sf_dir, f"{table}.parquet"), "fingerprint": fp},
                sort_keys=True,
            ),
        )
    return spark.read.parquet(data_path)


_MEMO: dict[tuple, object] = {}


def memo(spark: SparkSession, sf_dir: str, kind: str, make: Callable[[], object]):
    """This session's value of stage ``kind`` for the corpus at
    ``sf_dir``: ``make()`` runs once per source-table fingerprint.
    The fingerprint is re-listed on every call (metadata-only, a few
    ms), so a rewritten corpus misses; the miss replaces the older
    fingerprint's entry and unpersists its DataFrames (a dict's
    values, a tuple's items, or the value itself)."""
    fp = corpus_fingerprint(spark, sf_dir, KIND_TABLES.get(kind, "embeddings"))
    key = (id(spark), index_root(), os.path.abspath(sf_dir), kind, fp)
    if key in _MEMO:
        return _MEMO[key]
    value = make()
    for k in [k for k in _MEMO if k[:-1] == key[:-1]]:
        old = _MEMO.pop(k)
        parts = old.values() if isinstance(old, dict) else old if isinstance(old, tuple) else [old]
        for df in parts:
            if isinstance(df, DataFrame):
                df.unpersist()
    _MEMO[key] = value
    return value


def gc_stale(spark: SparkSession, sf_dir: str, table: str = "embeddings") -> list[str]:
    """The store janitor: delete every index directory belonging to
    this corpus whose fingerprint no longer matches the live one;
    returns the removed paths. Always safe to run — probes only ever
    read the directory keyed by the CURRENT fingerprint (which is kept),
    so the janitor can race builds and probes without coordination; at
    cluster scale this is the nightly cleanup beside the index job.
    Each kind is judged against ITS OWN source table's fingerprint
    (KIND_TABLES; ``table`` is the default for unmapped kinds); a kind
    whose source table is absent from this corpus is left untouched —
    the janitor only deletes what it can prove stale."""
    name = os.path.basename(sf_dir.rstrip("/")) or "corpus"
    fps: dict[str, str | None] = {}

    def live_fp(t: str) -> str | None:
        if t not in fps:
            try:
                fps[t] = corpus_fingerprint(spark, sf_dir, t)
            except Exception:
                fps[t] = None  # source table absent: cannot prove staleness
        return fps[t]

    root = index_root()
    fs, rootp = _hadoop_path(spark, root, ".")
    removed: list[str] = []
    if not fs.exists(rootp):
        return removed
    for kind_st in fs.listStatus(rootp):
        if not kind_st.isDirectory():
            continue
        kind = kind_st.getPath().getName()
        fp = live_fp(KIND_TABLES.get(kind, table))
        if fp is None:
            continue
        keep = f"{name}-{fp}"
        for entry in fs.listStatus(kind_st.getPath()):
            base = entry.getPath().getName()
            if base.startswith(f"{name}-") and base != keep:
                fs.delete(entry.getPath(), True)
                removed.append(str(entry.getPath()))
    return removed
