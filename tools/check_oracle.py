"""Local mirror of the driver's t2 correctness gate.

Runs every registered query's Spark side and DuckDB oracle side on
the same sf dir and compares row count, column names, and
order-insensitive values (exact; floats compared bit-exact after
normalization, which our decimal-exact aggregation idiom makes
possible). Usage:

    python tools/check_oracle.py [--out FILE] [--sample N --seed S] [sf_dir] [query ...]

``--out FILE`` additionally writes the PASS/FAIL lines + summary to
FILE, a sweep record (e.g. under ``artifacts/``) that can be diffed
against another sweep without re-running Spark.

``--sample N --seed S`` checks a seeded random subset of N registered
keys instead of the full registry. A different seed picks a different
subset, which catches key-set-dependent environment drift a fixed
sample cannot. The sampled key list is printed in the header so the
sweep record is self-describing.
"""

from __future__ import annotations

import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from nova_pulsar_spark.registry import all_queries
from nova_pulsar_spark.session import get_spark
from nova_pulsar_spark.sources.tables import TABLE_NAMES


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = pd.to_datetime(df[c])
            if getattr(s.dtype, "tz", None) is not None:
                # tz-aware inputs (e.g. fixtures written from Spark's
                # toArrow) -> UTC wall time, then naive like the rest
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif df[c].dtype == object:
            # lists/arrays (incl. numpy arrays from DuckDB LIST cols)
            # → tuples for sortability/comparability
            import numpy as np

            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            )
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except Exception:
        df = df.sort_values(by=list(df.columns), key=lambda s: s.map(repr), ignore_index=True)
    return df


def _values_equal(a, b) -> bool:
    try:
        if pd.isna(a) and pd.isna(b):  # None/NaN/NaT in any combination
            return True
    except (TypeError, ValueError):
        pass  # pd.isna on arrays/tuples
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def _driver_strict_problems(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Checks the lenient value-compare below would miss but the driver's
    canonicalize-and-hash gate does not:

    - list/ndarray-valued cells crash the driver's pandas sort_values
      (TypeError: unhashable type) — every result column must be scalar;
    - dtype-kind mismatches (e.g. DuckDB HUGEINT -> float64 vs Spark
      bigint -> int64) change the value hash even when values compare
      equal as python numbers.
    """
    import numpy as np

    problems = []
    for label, df in (("spark", spark_pdf), ("oracle", oracle_pdf)):
        for c in df.columns:
            if df[c].dtype == object and df[c].map(
                lambda v: isinstance(v, (list, dict, np.ndarray))
            ).any():
                problems.append(
                    f"non-scalar cells in {label} col={c} (driver hasher crashes on these)"
                )
    shared = set(spark_pdf.columns) & set(oracle_pdf.columns)
    for c in sorted(shared):
        sk = spark_pdf[c].dtype.kind.replace("u", "i")
        ok_ = oracle_pdf[c].dtype.kind.replace("u", "i")
        if sk != ok_:
            problems.append(
                f"dtype mismatch col={c}: spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}"
            )
    return problems


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    problems.extend(_driver_strict_problems(spark_pdf, oracle_pdf))
    if problems:
        return problems
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        for i, (x, y) in enumerate(zip(sv, ov)):
            ok = _values_equal(x, y)
            if not ok and isinstance(x, tuple) and isinstance(y, tuple):
                ok = len(x) == len(y) and all(_values_equal(p, q) for p, q in zip(x, y))
            if not ok:
                problems.append(f"value mismatch col={c} row={i}: spark={x!r} oracle={y!r}")
                break
    return problems


def main() -> int:
    args = sys.argv[1:]
    out_path = None
    sample_n = seed = None
    for flag in ("--out", "--sample", "--seed"):
        if flag in args:
            i = args.index(flag)
            val = args[i + 1]
            args = args[:i] + args[i + 2 :]
            if flag == "--out":
                out_path = val
            elif flag == "--sample":
                sample_n = int(val)
            else:
                seed = int(val)
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args[1:]) if len(args) > 1 else (set(args) if args and not os.path.isdir(args[0]) else None)
    lines: list[str] = []

    def emit(msg: str) -> None:
        print(msg)
        lines.append(msg)

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    regs = all_queries()
    if sample_n is not None:
        import random

        picked = sorted(random.Random(seed or 0).sample(sorted(regs), min(sample_n, len(regs))))
        only = set(picked) if only is None else (only & set(picked))
        emit(f"SAMPLE n={sample_n} seed={seed or 0}: {' '.join(picked)}")
        if not only:
            # ADVICE r9: an empty intersection must not fall through to a
            # full-registry sweep (empty set is falsy) — it means the
            # explicit list and the sample share no keys. Say so and stop.
            emit("EMPTY: --sample intersected the explicit query list to zero keys")
            if out_path:
                with open(out_path, "w") as f:
                    f.write("\n".join(lines) + "\n")
            return 2
    n_pass = n_fail = n_rows_only = 0
    for name, rq in sorted(regs.items()):
        if only is not None and name not in only:
            continue
        try:
            sdf = rq.fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception:
            emit(f"FAIL {name}: spark side raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if rq.sql is None:
            nonscalar = _driver_strict_problems(spdf, spdf.iloc[0:0])
            if nonscalar:
                emit(f"FAIL {name}: " + "; ".join(nonscalar[:3]))
                n_fail += 1
            else:
                emit(f"ROWS-ONLY {name}: {len(spdf)} rows")
                n_rows_only += 1
            continue
        try:
            opdf = con.execute(rq.sql).fetchdf()
        except Exception:
            emit(f"FAIL {name}: oracle side raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(spdf, opdf)
        if problems:
            emit(f"FAIL {name}: " + "; ".join(problems[:3]))
            n_fail += 1
        else:
            emit(f"PASS {name} ({len(spdf)} rows)")
            n_pass += 1
    emit(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    if out_path:
        with open(out_path, "w") as f:
            f.write("\n".join(lines) + "\n")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
