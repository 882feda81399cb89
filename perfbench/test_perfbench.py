"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402
from perfbench.workloads import WORKLOADS, input_hash, make_inputs, write_slices  # noqa: E402

TINY = {"texts_per_slice": 60, "n_entities": 24, "vocab_size": 400}


def tiny(name: str):
    return dataclasses.replace(WORKLOADS[name], **TINY)


def test_same_seed_same_inputs():
    w = tiny("crawl_dup")
    a, b = make_inputs(w, 3, 2), make_inputs(w, 3, 2)
    assert input_hash(a) == input_hash(b)
    c = make_inputs(w, 4, 2)
    assert input_hash(c) != input_hash(a)
    assert c.word2ner == a.word2ner  # the catalog is the workload's


def test_slices_share_no_text():
    inp = make_inputs(tiny("durable_join"), 5, 3)
    texts = [set(df["text"]) for df in inp.slices]
    assert not texts[0] & texts[1] and not texts[1] & texts[2]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = host.start_session(2, str(tmp_path_factory.mktemp("spark")))
    yield s
    host.stop_session(s)


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def tiny_run(request, spark, tmp_path_factory):
    from perfbench.passes import run_pass

    inp = make_inputs(tiny(request.param), 7, 2)
    root = str(tmp_path_factory.mktemp(request.param))
    paths = write_slices(inp, os.path.join(root, "input"), files_per_slice=2)
    _, pipe, clusters, _ = run_pass(spark, inp, paths[1], None)
    return inp, paths, root, clusters


def test_surface_f1_equals_eval(spark, tiny_run):
    from kawa_spark.eval import labeled_pairs_from_truth, pairwise_f1
    from kawa_spark.operators.blocking import add_block_keys

    from perfbench.checks import surface_pairwise_f1

    inp, _, _, clusters = tiny_run
    cfg = inp.workload.cfg
    truth = spark.createDataFrame(list(inp.truth.items()), "surface string, entity_id long")
    keyed = add_block_keys(clusters.select("mention_id", "norm"), cfg)
    want = pairwise_f1(labeled_pairs_from_truth(clusters, truth, keyed))
    got = surface_pairwise_f1(clusters, inp.truth, cfg)
    assert (got["tp"], got["fp"], got["fn"]) == (want["tp"], want["fp"], want["fn"])
    assert got["tp"] > 0
    assert got["f1"] == pytest.approx(want["f1"])


def test_traced_chain_matches_run(spark, tiny_run):
    from perfbench.layers import traced_pass

    inp, paths, root, _ = tiny_run
    m = traced_pass(spark, inp, 1, paths[1], root)
    assert m.pop("_hash_ok")
    assert m["pipeline.stages_skipped_on_resume"][0] == 6
    assert m["extract.mentions_out"][0] > 0
    with open(os.path.join(root, "spans.json")) as f:
        names = {s["name"] for s in json.load(f)}
    assert {"pages", "extract", "surfaces", "blocking.pairs", "scoring", "cc"} <= names


SMOKE = """
import dataclasses, sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
workloads.WORKLOADS[{name!r}] = dataclasses.replace(
    workloads.WORKLOADS[{name!r}], **{tiny!r})
sys.exit(run.main(["--workload", {name!r}, "--seed", "1", "--seconds", "1",
                   "--trace", {trace!r}]))
"""


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_smoke_run(name, trace):
    code = SMOKE.format(root=host.ROOT, name=name, tiny=TINY, trace=trace)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    bench = json.load(open(os.path.join(host.ROOT, "BENCHMARK.json")))
    names = {m["name"] for m in bench["per_layer" if trace == "1" else "end_to_end"]}
    assert set(result["metrics"]) == names
