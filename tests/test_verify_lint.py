"""Guard the guard: tools/verify_local.py's dtype lints must actually
fire — a HUGEINT oracle column or a NULL-promoted Spark int column was
the round-2 failure mode, and the lint is what keeps it from recurring."""

import sys

import duckdb

sys.path.insert(0, "/root/repo/tools")

from verify_local import compare  # noqa: E402


def test_lint_flags_hugeint_oracle(spark):
    sdf = spark.createDataFrame([(5,)], "total bigint")
    con = duckdb.connect()
    # Bare SUM(INTEGER) -> HUGEINT: must be flagged (value comparison
    # still runs; the lint is appended alongside any value diffs).
    probs = compare("t", sdf, con, "SELECT SUM(5) AS total")
    assert any("HUGEINT" in p for p in probs)
    # The cast form passes clean.
    assert compare("t", sdf, con, "SELECT CAST(SUM(5) AS BIGINT) AS total") == []


def test_lint_flags_null_promoted_spark_int(spark):
    sdf = spark.createDataFrame([(1,), (None,)], "k int")
    con = duckdb.connect()
    probs = compare(
        "t", sdf, con, "SELECT * FROM (VALUES (1), (NULL)) AS t(k)"
    )
    assert any("toPandas" in p for p in probs)


def test_refresh_adjudication_latest_wins_and_fail_invalidates(tmp_path):
    import json

    from myserver_datawarehouse_spark.registry import latest_green_round

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q_stays_r1": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_rechecked": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_later_fail": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_rows_only": {"rows_match": True, "schema_match": None, "hash_match": None},
                "q_never_green": {"rows_match": True, "schema_match": True, "hash_match": False},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "q_rechecked": {"rows_match": True, "schema_match": True, "hash_match": True},
                "q_later_fail": {"rows_match": False, "schema_match": True, "hash_match": False},
            }
        )
    )
    latest = latest_green_round(str(tmp_path / "CORRECTNESS_r*.json"))
    assert latest["q_stays_r1"] == 1
    assert latest["q_rechecked"] == 2  # latest verdict wins
    assert "q_later_fail" not in latest  # later FAIL invalidates
    assert latest["q_rows_only"] == 1  # rows-only entries count
    assert "q_never_green" not in latest


def test_bench_diff_spread_classification_and_mismatch_warning(
    tmp_path, capsys, monkeypatch
):
    """bench_diff: deltas inside either run's rep spread (or the floor)
    are noise; bigger deltas are listed; added/removed queries are
    called out; artifacts from different protocols warn."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from bench_diff import main as bd_main

    old = {
        "sf": 0.1,
        "reps": 3,
        "queries": {"q_stable": 1.0, "q_regressed": 1.0, "q_gone": 0.5},
        "spreads": {"q_stable": 0.5, "q_regressed": 0.1, "q_gone": 0.1},
    }
    new = {
        "sf": 0.1,
        "reps": 3,
        "queries": {"q_stable": 1.4, "q_regressed": 2.5, "q_new": 0.7},
        "spreads": {"q_stable": 0.2, "q_regressed": 0.1, "q_new": 0.1},
    }
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    monkeypatch.setattr(
        sys, "argv", ["bench_diff.py", str(po), str(pn)]
    )
    assert bd_main() == 0
    out = capsys.readouterr().out
    # +0.4 on q_stable is inside its 0.5 spread -> noise, not listed.
    assert "q_stable" not in out
    # +1.5 on q_regressed beats spread and floor -> listed as signal.
    assert "q_regressed" in out and "+1.50s" in out
    assert "added 1" in out and "q_new" in out
    assert "removed 1" in out and "q_gone" in out
    assert "warning" not in out

    # Different sf must warn (non-comparable pair).
    new["sf"] = 0.01
    pn.write_text(json.dumps(new))
    assert bd_main() == 0
    assert "warning: artifacts differ on 'sf'" in capsys.readouterr().out


def test_plan_lint_classifier():
    """The registry-wide plan lint's pattern classifier: each
    anti-pattern fires on its operator string and stays silent on the
    sanctioned vectorized/literal forms."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from plan_lint import classify

    assert "CARTESIAN" in classify("(4) CartesianProduct Inner")
    assert "ROW_UDF" in classify("(2) BatchEvalPython [pyUDF(x)]")
    assert "RAND" in classify("Project [rand(42) AS r]")
    assert "RDD_SCAN" in classify("(1) Scan ExistingRDD [id#1L]")
    clean = classify(
        "(1) Scan parquet\n(2) ArrowEvalPython\n(3) MapInPandas\n"
        "(4) FlatMapGroupsInPandas\n(5) LocalTableScan\n"
        "(6) BroadcastNestedLoopJoin BuildRight, Inner\n"
        "(7) randomSplit is not rand("  # guard: only call-sites match
    )
    # the deliberately-tricky tail contains 'rand(' as a substring of
    # prose — the regex matches the call form, which this line IS, so
    # verify the boundary behavior explicitly instead:
    assert set(clean) <= {"RAND"}
    assert classify("(1) Scan parquet\n(2) HashAggregate") == {}


def test_materialize_allowlist_names_consumers():
    """Round-11 verdict ask #7: the plan-lint materialize() allowlist
    can only grow with a machine-checked sharing justification — every
    ALLOW entry must either name >= 2 downstream consumers of its
    materialized frame in CONSUMERS, or belong to the FROZEN pre-
    round-12 LEGACY_CUTS set (which must never grow)."""
    from plan_lint import ALLOW, CONSUMERS, LEGACY_CUTS

    allow = set(ALLOW)
    consumers = set(CONSUMERS)
    assert consumers.isdisjoint(LEGACY_CUTS)
    assert allow == consumers | LEGACY_CUTS, (
        f"unjustified ALLOW entries: {sorted(allow - consumers - LEGACY_CUTS)}; "
        f"stale justifications: {sorted((consumers | LEGACY_CUTS) - allow)}"
    )
    for name, cons in CONSUMERS.items():
        assert len(cons) >= 2, (
            f"{name}: a materialize() cut needs >= 2 named consumers "
            f"(got {cons}) — single-consumer cuts are a lint violation"
        )
    assert LEGACY_CUTS == frozenset(
        {
            "bloom_pruned_join",
            "bucketed_colocated_join",
            "corpus_build_pipeline",
            "source_vocab_overlap",
        }
    ), "LEGACY_CUTS is frozen: new cuts must name their consumers"


def test_materialize_allowlist_matches_registry():
    """Every allowlisted name is a real registry query (no dead
    entries shielding future queries by name collision)."""
    sys.path.insert(0, "/root/repo")
    from plan_lint import ALLOW

    from myserver_datawarehouse_spark import registry

    names = {s.name for s in registry.specs()}
    assert set(ALLOW) <= names, sorted(set(ALLOW) - names)
