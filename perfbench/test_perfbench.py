"""Self-tests of the benchmark: input determinism, input size limits,
the generators' truth against the real ETL and corpus pipelines, the
generated tables against the DuckDB oracles, span arithmetic, and metric
names.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

from edu_data_pipeline_spark.sources.csv_ingest import MAX_FILE_SIZE_MB  # noqa: E402


def _digest(path: Path) -> dict[str, str]:
    return {str(p.relative_to(path)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(path.rglob("*")) if p.is_file()}


def _etl_inputs(seed: int, out: Path, drops: int = 2) -> dict[str, str]:
    g = gen.EtlDrops(seed, **workloads.ETL_SIZES)
    for k in range(drops):
        g.write_drop(str(out / f"drop{k}"))
    return _digest(out)


def _stream_lines(seed: int) -> list[str]:
    rng, truth = random.Random(seed), gen.StreamTruth()
    return [line for i in range(3)
            for line in gen.event_file_lines(rng, i, 20, gen.EVENT_DAY, truth)]


def _star(seed: int, out: Path) -> dict[str, str]:
    gen.write_star_schema(seed, str(out))
    return _digest(out)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    assert _etl_inputs(7, tmp_path / "a") == _etl_inputs(7, tmp_path / "b")
    assert _etl_inputs(7, tmp_path / "a2") != _etl_inputs(8, tmp_path / "c")
    assert _stream_lines(7) == _stream_lines(7) != _stream_lines(8)
    assert _star(7, tmp_path / "s1") == _star(7, tmp_path / "s2") != _star(8, tmp_path / "s3")
    assert gen.corpus_docs(7, 300) == gen.corpus_docs(7, 300) != gen.corpus_docs(8, 300)


def test_event_lines_are_sorted_key_json():
    for line in _stream_lines(2):
        assert json.dumps(json.loads(line), sort_keys=True) == line


def test_corpus_truth_marks_every_exact_copy_and_no_near_copy():
    cols, truth = gen.corpus_docs(4, 1000)
    lowest: dict[str, int] = {}
    for doc_id, text in zip(cols["doc_id"], cols["text"]):
        lowest[text] = min(lowest.get(text, doc_id), doc_id)
    assert len(lowest) == truth.n_docs - len(truth.exact_copy_ids) == 950
    assert truth.exact_copy_ids == {d for d, t in zip(cols["doc_id"], cols["text"])
                                    if d != lowest[t]}
    assert sorted(cols["doc_id"]) == list(range(1000))
    # every document passes the corpus quality gate's structural filters
    for text in cols["text"]:
        words = text.split(" ")
        assert 20 <= len(words) <= 120 and max(map(len, words)) <= 6


def test_generated_csvs_stay_under_the_ingest_size_cap(tmp_path):
    g = gen.EtlDrops(1, **workloads.ETL_SIZES)
    for k in range(2):  # the initial drop is the largest
        g.write_drop(str(tmp_path / f"drop{k}"))
    for p in tmp_path.rglob("*.csv"):
        assert p.stat().st_size < MAX_FILE_SIZE_MB * 1024 * 1024, p


def test_stream_truth_counts_duplicates_and_invalid_rows():
    rng, truth = random.Random(3), gen.StreamTruth()
    lines = gen.event_file_lines(rng, 0, 100, gen.EVENT_DAY, truth)
    lines += gen.event_file_lines(rng, 1, 100, gen.EVENT_DAY, truth)
    events = [json.loads(x) for x in lines]
    ids = {e["event_id"] for e in events}
    assert truth.rows == len(events) > len(ids) == len(truth.ids) == 200
    assert truth.invalid_ids == {e["event_id"] for e in events
                                 if not 0 <= float(e["score"]) <= 100}


def test_self_time_subtracts_the_union_of_children():
    t = Tracer(spark=None, run_id="r", enabled=False)
    t.spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},  # overlaps
        {"id": 3, "name": "c", "parent": 2, "start": 3.5, "end": 4.5},
    ]
    st = t.self_times()
    assert st == {0: 6.0, 1: 3.0, 2: 1.0, 3: 1.0}
    assert t.total("b") == 5.0 and t.total("b", self_time=True) == 4.0
    assert sorted(t.descendants(0)) == [0, 1, 2, 3]


def test_benchmark_json_names_are_valid_and_match_the_workloads():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in spec[kind]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len(set(names)) == len(names)
    assert "setup_s" in run.metric_units("end_to_end")
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from edu_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_expected_counts_match_the_pipeline_at_a_tiny_size(spark, tmp_path):
    from edu_data_pipeline_spark import pipeline

    g = gen.EtlDrops(5, students=40, events=100, tickets=20, courses=5)
    for k in range(2):  # initial load, then an incremental merge
        d = str(tmp_path / f"drop{k}")
        g.write_drop(d)
        counts = pipeline.run_batch_pipeline(spark, d, str(tmp_path / "wh"),
                                             batch_id=f"drop-{k}")
        want = g.truth.expected_counts()
        assert {k2: counts[k2] for k2 in want} == want


def test_corpus_checks_hold_on_the_real_pipeline(spark, tmp_path):
    from spans import Tracer

    ctx = workloads.Ctx(spark, Tracer(spark, "selftest", enabled=True), 3, 1.0, True, tmp_path)
    out = workloads.Outcome()
    layer = workloads._corpus_run(ctx, out, n_docs=300)
    assert (out.attempted, out.failed, out.errors) == (1, 0, [])
    assert layer["operators.corpus.cc_rounds"] >= 1 and layer["operators.corpus.recount_s"] > 0


def test_generated_tables_match_the_oracles(spark, tmp_path):
    from spans import Tracer

    ctx = workloads.Ctx(spark, Tracer(spark, "selftest", enabled=True), 3, 1.0, True, tmp_path)
    out = workloads.Outcome()
    layer = workloads._registry_pass(ctx, out)
    assert out.attempted == len(workloads.SUITE_QUERIES) and out.errors == []
    assert layer["suite.exec_s"] > 0
