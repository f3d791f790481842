"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(HERE, "layers.json")) as f:
    LAYERS = json.load(f)


@pytest.mark.parametrize("build", [
    lambda seed: workloads.short_turns(seed, n_rows=400),
    lambda seed: workloads.long_docs(seed, n_rows=60),
    lambda seed: workloads.curate_corpus(seed, n_docs=200)[0],
])
def test_generator_is_a_function_of_the_seed(build):
    a, b, other = build(7), build(7), build(8)
    assert a.equals(b)
    assert not a.equals(other)


def test_zip_payloads_do_not_depend_on_the_clock(monkeypatch):
    a = workloads.short_turns(7, n_rows=1000)
    monkeypatch.setattr(time, "time", lambda: 2e9)
    assert a.equals(workloads.short_turns(7, n_rows=1000))


def test_short_turns_shape():
    df = workloads.short_turns(3, n_rows=800)
    assert len(df) == 800
    dups = len(df) - len(workloads.dedupe(df))
    assert dups == 800 * workloads.SHORT_DUP_SHARE
    assert df["text"].isin(workloads.BROKEN_PAYLOADS).sum() >= 1


@pytest.mark.parametrize("build", [
    lambda: workloads.short_turns(3, n_rows=1000),
    lambda: workloads.long_docs(3, n_rows=200),
])
def test_every_workload_input_holds_every_content_type(build):
    from advanced_text_extraction_spark.operators.extract import extract_one

    kinds = {extract_one(t)["content_type"] for t in build()["text"]}
    assert {"text", "html", "pdf", "docx", "excel", "powerpoint"} <= kinds


def test_long_docs_lengthens_gen_transcripts_and_keeps_its_edge_rows():
    from fixtures import gen

    df = workloads.long_docs(4, n_rows=300)
    base = workloads._seed_only(gen.gen_transcripts)(
        300, workloads.DOC_CONVS, 4)
    assert sorted(zip(df["conv_id"], df["turn_idx"])) == \
        sorted(zip(base["conv_id"], base["turn_idx"]))
    conv1 = base[base["conv_id"] == "conv-1"].sort_values("turn_idx")
    edge = set(conv1["text"].tail(workloads.GEN_EDGE_ROWS))
    assert edge <= set(df["text"])
    html = [t for t in df["text"] if "</article>" in t and t not in edge]
    assert html and min(map(len, html)) > 10_000
    assert len(workloads.dedupe(df)) == len(df) - 2


def test_curate_corpus_plants_twins():
    df, planted = workloads.curate_corpus(5, n_docs=200)
    text = dict(zip(df["doc_id"], df["text"]))
    exact = [t for t, s in planted if text[t] == text[s]]
    assert planted and len(exact) == len(planted) // 2


def _files(rows_by_bucket: dict[int, list[tuple]]) -> list[dict]:
    return [{"path": f"part_bucket={b}/f.parquet", "bucket": b,
             "rows": [{"conv_id": c, "turn_idx": t, "content_type": "text",
                       "extracted_text": x, "status": "ok",
                       "spans": [{"block_idx": 0, "start": 0,
                                  "end": len(x), "src_start": 0,
                                  "src_end": len(x)}]}
                      for c, t, x in rows]}
            for b, rows in rows_by_bucket.items()]


def _expected(rows) -> dict:
    return {(c, t): ("text", x, ((0, 0, len(x), 0, len(x)),), "ok")
            for c, t, x in rows}


ROWS = [("a", 0, "hello"), ("a", 1, "world"), ("b", 0, "again")]


def test_checker_accepts_matching_output():
    files = _files({1: ROWS[:2], 2: ROWS[2:]})
    assert checks.check_extracted(files, _expected(ROWS)) == []


def test_checker_rejects_a_corrupted_row():
    files = _files({1: ROWS[:2], 2: ROWS[2:]})
    files[0]["rows"][1]["extracted_text"] = "w0rld"
    problems = checks.check_extracted(files, _expected(ROWS))
    assert problems == ["('a', 1): extracted_text differs"]


def test_checker_rejects_a_missing_row():
    files = _files({1: ROWS[:1], 2: ROWS[2:]})
    assert checks.check_extracted(files, _expected(ROWS)) == [
        "1 expected rows missing"]


def test_checker_rejects_order_duplicates_and_split_conversations():
    files = _files({1: [ROWS[1], ROWS[0], ROWS[0]], 2: [("a", 2, "x")]})
    expected = _expected(ROWS[:2] + [("a", 2, "x")])
    problems = checks.check_extracted(files, expected)
    assert any("after" in p for p in problems)
    assert any("written twice" in p for p in problems)
    assert any("two buckets" in p for p in problems)


def test_cluster_check():
    assert checks.check_clusters({1: 1, 2: 1}, [(2, 1)]) == []
    assert checks.check_clusters({1: 1, 2: 2}, [(2, 1)])
    assert checks.check_clusters({1: 1}, [(2, 1)])


def test_rows_hash_ignores_order_only():
    assert checks.rows_hash([(1, 2), (3, 4)]) == \
        checks.rows_hash([(3, 4), (1, 2)])
    assert checks.rows_hash([(1, 2)]) != checks.rows_hash([(1, 3)])


def test_every_name_and_unit_is_well_formed():
    names = ([w["name"] for w in BENCH["workloads"]]
             + [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]])
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    assert all(UNIT.fullmatch(m["unit"])
               for m in BENCH["end_to_end"] + BENCH["per_layer"])


def test_benchmark_json_follows_the_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 2 <= len(BENCH["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in BENCH["workloads"])
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert all(set(m) == {"name", "unit", "better", "bound"}
               and 0 < m["bound"] <= 0.25 for m in e2e.values())
    setup = e2e["setup_s"]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e.values())
    assert all(set(m) == {"name", "unit", "better"}
               for m in BENCH["per_layer"])


def test_every_per_layer_metric_names_what_it_should_move():
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    names = {w["name"] for w in BENCH["workloads"]}
    per_layer = {m["name"]: m for m in BENCH["per_layer"]}
    assert per_layer.keys() == LAYERS.keys()
    for name, target in LAYERS.items():
        assert target["moves"] in e2e, name
        assert target["workloads"] and set(target["workloads"]) <= names, name
        assert (target["unit"], target["better"]) == (
            per_layer[name]["unit"], per_layer[name]["better"]), name


def test_end_children_reaps_orphaned_grandchildren(tmp_path):
    import subprocess

    # a shell that leaves an orphaned sleep behind, as the Python workers'
    # daemon is left when the JVM that forked it exits
    script = (
        "import subprocess, sys, time\n"
        f"sys.path[:0] = [{HERE!r}]\n"
        "import run\n"
        "run._adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $! > orphan.pid'],\n"
        "               check=True)\n"
        "t0 = time.monotonic()\n"
        "run._end_children(grace_s=1)\n"
        "print(time.monotonic() - t0)\n")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert float(proc.stdout) < 30
    pid = int((tmp_path / "orphan.pid").read_text())
    assert not os.path.exists(f"/proc/{pid}")


def test_run_refuses_a_directory_without_the_program(tmp_path):
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "extract-docs", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
