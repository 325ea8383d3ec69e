"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take about a minute each.
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import gen, run, trace  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------

def _pages(docs):
    return [sum(s["kind"] == "image" for s in d["spans"]) for d in docs]


def test_extract_generator_is_deterministic_per_seed():
    a, b = gen.extract_docs(7, 0, 120), gen.extract_docs(7, 0, 120)
    c = gen.extract_docs(8, 0, 120)
    assert a == b
    assert a != c
    assert gen.digest(a) == gen.digest(b) != gen.digest(c)
    # the seed changes payloads, never the amount of work
    assert _pages(a) == _pages(c)
    assert {d["meta"]["class"] for d in a} == set(gen.CLASSES)
    assert sum(p == gen.HUGE_PAGES for p in _pages(a)) == 1


def test_dedup_generator_is_deterministic_per_seed():
    rows_a, groups_a = gen.dedup_corpus(3, 600, 10_000)
    rows_b, groups_b = gen.dedup_corpus(3, 600, 10_000)
    rows_c, groups_c = gen.dedup_corpus(4, 600, 10_000)
    assert (rows_a, groups_a) == (rows_b, groups_b)
    assert rows_a != rows_c
    assert len(rows_a) == len(rows_c) == 600
    assert sorted(map(len, groups_a)) == sorted(map(len, groups_c))
    assert len({r["doc_id"] for r in rows_a}) == 600
    assert all(len(r["text"].split()) == gen.WORDS_PER_DOC for r in rows_a)
    assert len(gen.vocabulary(3, 10_000)) == 10_000
    planted = gen.planted_duplicates(groups_a)
    assert len(planted) == sum(len(g) - 1 for g in groups_a)


def test_page_sample_is_readable_and_not_blank():
    from pdf2pdfocr_spark.schema import PagePayload

    refs = gen.page_sample(5, 16)
    assert len(refs) == 16
    assert not any(PagePayload.from_ref(r).is_blank for r in refs)


# --------------------------------------------------------------------------
# metric names
# --------------------------------------------------------------------------

def _layer_metrics_of_empty_trace():
    root = {"id": 0, "name": "r", "layer": "jobs", "parent": None,
            "run_id": "t", "start": 0.0, "end": 1.0}
    kernel = {"ocr_engine.page_us": 1.0, "hocr.synth_us": 1.0,
              "hocr.parse_us": 1.0}
    return run._layer_metrics([root], {}, {}, kernel, 1.0, 1)


def test_metric_names_are_well_formed():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.match(name), name


def test_per_layer_metrics_match_benchmark_json():
    bench = _bench()
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    produced = {k: u for k, (_v, u) in _layer_metrics_of_empty_trace().items()}
    assert declared == produced


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

def test_span_tree_is_well_formed():
    t = trace.Tracer("unit")
    with t.span("jobs.run_extraction_job", "jobs"):
        with t.span("pipeline.apply_gates:apply_gates", "pipeline.apply_gates"):
            with t.span("trace.counters"):
                pass
        with t.span("pipeline.run_ocr:run_ocr", "pipeline.run_ocr"):
            pass
    trace.check_tree(t.spans)
    st = trace.self_times(t.spans)
    assert all(v >= 0 for v in st.values())
    root = t.spans[0]
    assert sum(st.values()) == pytest.approx(root["end"] - root["start"])
    assert {s["run_id"] for s in t.spans} == {"unit"}


def test_span_tree_rejects_two_roots_and_orphans():
    t = trace.Tracer("unit")
    with t.span("a"):
        pass
    with t.span("b"):
        pass
    with pytest.raises(ValueError):
        trace.check_tree(t.spans)
    orphan = [dict(t.spans[0]), dict(t.spans[1], parent=99)]
    with pytest.raises(ValueError):
        trace.check_tree(orphan)


def test_event_log_reader_groups_tasks_by_job_group(tmp_path):
    def task(stage, run_ms, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Stage Attempt ID": 0, "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": 1e9,
                    "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                }}

    def submitted(stage, group):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
                "Properties": {"spark.jobGroup.id": group}}

    events = [
        {"Event": "SparkListenerJobStart",
         "Properties": {"spark.jobGroup.id": "a"}},
        submitted(0, "a"), task(0, 1000, 5), task(0, 3000, 7),
        {"Event": "SparkListenerJobStart",
         "Properties": {"spark.jobGroup.id": "b"}},
        submitted(1, "b"), task(1, 500),
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = trace.read_event_log(str(path))
    assert got["a"]["jobs"] == 1 and got["b"]["jobs"] == 1
    assert got["a"]["task_s"] == pytest.approx(4.0)
    assert got["a"]["cpu_s"] == pytest.approx(2.0)
    assert got["a"]["shuffle_bytes"] == 12
    assert got["a"]["task_skew"] == pytest.approx(3000 / 2000)
    assert got["b"]["task_s"] == pytest.approx(0.5)


# --------------------------------------------------------------------------
# smoke runs (start Spark)
# --------------------------------------------------------------------------

def _session_processes(sid):
    left = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            left.append(int(name))
    return left


def _run(cwd, *args):
    """Run the benchmark in a session of its own and check that it leaves
    no process of that session behind (the JVM, PySpark's worker daemon,
    the oracle's process pool and its resource tracker)."""
    with subprocess.Popen(
            [sys.executable, "perfbench/run.py", *args], cwd=cwd,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            start_new_session=True) as proc:
        stdout, stderr = proc.communicate(timeout=600)
    assert _session_processes(proc.pid) == [], "processes left running"
    return subprocess.CompletedProcess(proc.args, proc.returncode, stdout,
                                       stderr)


def _smoke(workload, traced=0):
    p = _run(REPO, "--workload", workload, "--seed", "11", "--seconds", "1",
             "--trace", str(traced), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", ["extract_corpus", "dedup_corpus"])
def test_smoke_run_passes_its_output_check(workload):
    res, out = _smoke(workload)
    assert res["correct"] is True, out
    assert res["failed"] == 0 and res["attempted"] >= 1
    declared = {m["name"] for m in _bench()["end_to_end"]}
    assert set(res["metrics"]) == declared
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.xfail(strict=True, reason=(
    "program defect: lineage.write_checkpointed appends done_ids with "
    "saveAsTable, which overwrites the directory when the session has not "
    "registered the table, so resuming into an existing output leaves only "
    "the new docs in the done set"))
def test_smoke_resume_extract_passes_its_output_check():
    res, out = _smoke("resume_extract")
    assert res["correct"] is True, out


def test_traced_smoke_run_reports_every_layer():
    res, out = _smoke("extract_corpus", traced=1)
    assert res["correct"] is True, out
    assert set(res["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["pipeline.run_ocr.pages_in"] > 0
    assert m["pipeline.run_ocr.jobs"] >= 1
    assert m["ocr_engine.page_us"] > 0
    assert m["trace.total_s"] > 0
    tdir = os.path.join(REPO, ".perfbench_work", "traces")
    with open(os.path.join(tdir, "ExtractCorpus-seed11.json")) as f:
        spans = json.load(f)
    trace.check_tree(spans)
    layer_self = sum(m[f"{layer}.s"] for layer in run.LAYERS)
    layer_self += m["trace.counters_s"]
    assert layer_self == pytest.approx(m["trace.total_s"], rel=1e-6)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "extract_corpus", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
