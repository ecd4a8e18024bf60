"""Self-tests for the benchmark's own logic (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import kernels  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _job_start(jid, t_ms, stages, group):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": t_ms,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _task_end(stage, run_ms, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    _job_start(0, 1000, [0, 1], "g1"),
    _task_end(0, 100, shuffle=1_000_000),
    _task_end(0, 300, shuffle=500_000),
    _task_end(1, 200),
    _task_end(1, 200),
    _task_end(1, 800),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    # a later job lists stage 1 again (skipped there): it stays with g1
    _job_start(1, 4000, [1, 2], "g2"),
    _task_end(2, 50),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
    _job_start(2, 5000, [3], None),
    _task_end(3, 10),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 5100},
]


def test_event_log_fold_on_canned_log():
    groups, jobs = spans.fold_event_log(json.dumps(e) + "\n" for e in CANNED_LOG)
    g1, g2 = groups["g1"], groups["g2"]
    assert (g1.jobs, g2.jobs, groups[""].jobs) == (1, 1, 1)
    assert g1.task_s == pytest.approx(1.6)
    assert g2.task_s == pytest.approx(0.05)
    assert g1.shuffle_bytes == 1_500_000
    # dominant stage of g1 is stage 1 (1.2 s): max 0.8 over median 0.2
    assert g1.skew() == pytest.approx(4.0)
    assert jobs == [(1.0, 3.0), (4.0, 4.5), (5.0, 5.1)]


def test_self_time_and_gap_arithmetic():
    root = spans.Span(1, "root", None, 0.0, 10.0)
    kid = spans.Span(2, "kid", 1, 2.0, 5.0)
    grandkid = spans.Span(3, "grandkid", 2, 3.0, 4.0)
    all_spans = [root, kid, grandkid]
    hidden = [(6.0, 7.0)]  # tracer bookkeeping inside root
    assert spans.length(spans.self_intervals(root, all_spans, hidden)) == pytest.approx(6.0)
    assert spans.length(spans.self_intervals(kid, all_spans, hidden)) == pytest.approx(2.0)
    groups = {root.group: spans.GroupCost(jobs=2, task_s=12.0)}
    jobs = [(0.5, 1.5), (4.5, 8.0)]
    m = spans.layer_metrics(all_spans, hidden, groups, jobs, cores=4)
    r = m["root"]
    assert r["self_s"] == pytest.approx(6.0)
    # root's own time [0,2] + [5,6] + [7,10]; jobs cover 0.5-1.5, 5-6, 7-8
    assert r["driver_gap_s"] == pytest.approx(3.0)
    assert r["core_util"] == pytest.approx(12.0 / (6.0 * 4))
    assert m["grandkid"]["jobs"] == 0


def test_intervals_union_and_subtract():
    assert spans.union([(3, 4), (0, 1), (0.5, 2), (2, 2)]) == [(0, 2), (3, 4)]
    assert spans.subtract([(0, 10)], [(1, 2), (1.5, 3), (9, 12)]) == [(0, 1), (3, 9)]


def test_percentile_rule_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert spans.percentile_with_tail(xs, 0.9) == 90.0
    assert spans.percentile_with_tail(xs[:99], 0.9) is None
    assert spans.percentile_with_tail([5.0] * 200, 0.9) is None  # nothing lies beyond
    assert spans.percentile_with_tail(xs, 0.5) == 50.0


def test_digest_is_order_free_and_value_sensitive():
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.1, 0.2, 0.3000000000001], "s": list("abc")})
    b = a.iloc[::-1][["s", "y", "x"]].reset_index(drop=True)
    b.loc[0, "y"] = 0.3
    assert workloads.digest_frame(a) == workloads.digest_frame(b)
    c = a.copy()
    c.loc[1, "s"] = "z"
    assert workloads.digest_frame(a) != workloads.digest_frame(c)


def test_digest_store_flags_a_changed_output(tmp_path):
    store = run.DigestStore(str(tmp_path / "d.json"))
    assert store.compare_and_add("w/seed1", {"q": "aa", "r": None}) == []
    assert store.compare_and_add("w/seed1", {"q": "aa", "r": "bb"}) == []
    bad = store.compare_and_add("w/seed1", {"q": "cc"})
    assert len(bad) == 1 and bad[0].startswith("q:")
    assert store.compare_and_add("w/seed2", {"q": "cc"}) == []


def test_kernels_time_tfidf_only_with_a_fitted_idf():
    pairs = [("aspirin", "asprin"), ("heart attack", "myocardial infarction")] * 50
    rates, bad = kernels.bench_kernels(pairs, None, seed=1)
    assert bad == []
    assert rates["jaro_winkler_batch"] > 0 and rates["tfidf_cosine_batch"] == 0.0
    strings = {s for pair in pairs for s in pair}
    idf = {s[i : i + 3]: 1.0 for s in strings for i in range(len(s) - 2)}
    rates, bad = kernels.bench_kernels(pairs, idf, seed=1)
    assert bad == [] and rates["tfidf_cosine_batch"] > 0


def test_inputs_repeat_for_a_seed(tmp_path):
    import pyarrow.parquet as pq

    fam1 = gen.write_suite_tables(str(tmp_path / "a"), 7, 60)
    fam2 = gen.write_suite_tables(str(tmp_path / "b"), 7, 60)
    assert fam1 == fam2
    for t in ("documents", "customer", "supplier", "embeddings"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    gen.write_suite_tables(str(tmp_path / "c"), 8, 60)
    assert not pq.read_table(tmp_path / "c" / "documents.parquet").equals(
        pq.read_table(tmp_path / "a" / "documents.parquet")
    )


def test_base_state_roots_are_cluster_minima(tmp_path):
    from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

    c = synth_corpus(n_docs=80, n_entities=30, seed=3)
    gen.write_base_state(c, 60, str(tmp_path / "state"))
    st = workloads.read_parquet(str(tmp_path / "state"))
    assert not st["node"].duplicated().any()
    for cid, members in st.groupby("cluster_id")["node"]:
        assert cid == min(members) and cid in set(members)


def test_stop_children_ends_orphans_too(tmp_path):
    # a child that exits at once and leaves a grandchild behind, the way
    # the JVM leaves its Python workers: stop_children must end and reap
    # both before it returns
    script = f"""
import os, subprocess, sys
sys.path.insert(0, {HERE!r})
import probe, run
run.adopt_orphans()
subprocess.Popen(["sh", "-c", "sleep 300 & echo $!"], stdout=open("pid", "w")).wait()
assert probe.descendants(os.getpid()), "the orphan was not adopted"
run.stop_children(grace_s=0.2, kill_wait_s=2)
assert not probe.descendants(os.getpid())
print(open("pid").read().strip())
"""
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert not os.path.exists(f"/proc/{int(out.stdout)}")


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
