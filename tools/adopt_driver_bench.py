"""Render the operative bench floor into ``docs/SCALE.md``.

The single operative-floor quote in ``docs/SCALE.md`` lives between
``ADOPTED_BENCH_FLOOR`` markers and is regenerated from the newest
committed ``artifacts/r*/BENCH_LOCAL_r*.json`` by this tool, never
hand-edited. ``tests/test_artifacts.py::test_scale_md_adopted_floor_matches_artifact``
re-renders the block from the artifact and fails on any divergence.

    python tools/adopt_driver_bench.py

Idempotent: re-running against an already-adopted artifact reports
``unchanged`` and leaves the doc byte-identical.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_MD = os.path.join(HERE, "docs", "SCALE.md")
BEGIN = "<!-- ADOPTED_BENCH_FLOOR:BEGIN (generated by tools/adopt_driver_bench.py - do not hand-edit) -->"
END = "<!-- ADOPTED_BENCH_FLOOR:END -->"


def find_latest_local() -> str:
    paths = sorted(
        glob.glob(os.path.join(HERE, "artifacts", "r*", "BENCH_LOCAL_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    if not paths:
        raise SystemExit("no BENCH_LOCAL_r*.json artifact to adopt")
    return paths[-1]


def render_block(path: str) -> str:
    """The operative-floor paragraph, derived ONLY from the artifact."""
    doc = json.load(open(path))
    prov = doc.get("provenance", {})
    n = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
    sha = (prov.get("git_sha") or "?")[:8]
    dirty = prov.get("git_dirty")
    return (
        f"Operative floor: **{doc['value']} s** over {len(doc['queries'])} "
        f"headline queries at sf={doc['sf']} — `{os.path.basename(path)}` "
        f"(round {n}), measured at commit `{sha}` (git_dirty={dirty}); "
        f"policy: {prov.get('policy', '?')}. Every other run of that "
        f"round, accepted or guard-refused, is in `BENCH_SPREAD_r{n:02d}."
        f"json` with its own provenance. Round-narrative sections of this "
        f"doc quote their in-round runs from the SPREAD artifact; THIS "
        f"block is the only operative-floor quote and is "
        f"machine-maintained."
    )


def adopt() -> dict:
    path = find_latest_local()
    text = open(SCALE_MD).read()
    if BEGIN not in text or END not in text:
        raise SystemExit(f"{SCALE_MD} is missing the {BEGIN.split(' ')[0]}... markers")
    pre, rest = text.split(BEGIN, 1)
    _, post = rest.split(END, 1)
    block = render_block(path)
    new = pre + BEGIN + "\n" + block + "\n" + END + post
    changed = new != text
    if changed:
        # Atomic replace: an interruption mid-write must not truncate the
        # doc (the enforcing test would then fail with a confusing
        # missing-markers error instead of a divergence message).
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(SCALE_MD), prefix=".SCALE.md.", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as f:
                f.write(new)
            os.replace(tmp, SCALE_MD)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
    return {
        "adopted": os.path.basename(path),
        "value": json.load(open(path))["value"],
        "changed": changed,
    }


if __name__ == "__main__":
    print(json.dumps(adopt()))
    sys.exit(0)
