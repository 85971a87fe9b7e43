"""The benchmark's own tests: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from gen import MISSING_SEQ0, Model, Pool
from layers import PER_LAYER_UNITS
from run import E2E_UNITS, ROOT, WORK, host_env, stop_spark
from spans import tail_percentile

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


# ------------------------------------------------------------ percentiles
def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(99))) == (50.0, 49)
    assert tail_percentile([float(x) for x in range(100, 0, -1)]) == (90.0, 90.0)
    assert tail_percentile(list(range(1000))) == (99.0, 989)
    assert tail_percentile(list(range(10_000))) == (99.9, 9989)


# ------------------------------------------------------------ model vs merge
@pytest.fixture(scope="module")
def spark():
    run_dir = os.path.join(WORK, "test")
    os.makedirs(run_dir, exist_ok=True)
    host_env(run_dir, trace=False)
    sys.path.insert(0, ROOT)
    from moonlink_spark.session import get_spark

    s = get_spark("perfbench-test", cores=2)
    yield s
    stop_spark(s)
    shutil.rmtree(run_dir, ignore_errors=True)


def _adversarial(events) -> dict:
    """Count the F2 edge cases in one batch's events (LSN order)."""
    ops: dict[int, list[str]] = {}
    for ev in sorted(events, key=lambda e: e.lsn):
        ops.setdefault(ev.seq, []).append(ev.op)
    return {
        "update_twice": sum(o.count("U") >= 2 for o in ops.values()),
        "delete_reinsert": sum("D" in o and o[-1] == "I" for o in ops.values()),
        "delete_missing": sum(s >= MISSING_SEQ0 for s in ops),
    }


def test_model_matches_merge(spark):
    from moonlink_spark.operators.merge import merge_into
    from moonlink_spark.sources.fixtures import create_images_table
    from moonlink_spark.sources.json_cdc import read_json_cdc
    from pyspark.sql import functions as F

    from gen import write_jsonl, write_parquet

    root = os.path.join(WORK, "test", "model")
    shutil.rmtree(root, ignore_errors=True)
    n_base = 200
    table = create_images_table(spark, os.path.join(root, "t"), n_base, seed=42)
    pool = Pool.from_parquet([f.file_path for f in table.data_files()])
    model = Model(pool, n_base, seed=7)
    seen = {"update_twice": 0, "delete_reinsert": 0, "delete_missing": 0}
    for i in range(3):
        batch = model.next_batch(400)
        for k, v in _adversarial(batch.events).items():
            seen[k] += v
        path = os.path.join(root, f"b{i}")
        if i % 2:
            write_jsonl(pool, batch, path + ".json")
            changes = read_json_cdc(spark, path + ".json", table.schema)
        else:
            write_parquet(pool, batch, path + ".parquet")
            changes = spark.read.parquet(path + ".parquet")
        res = merge_into(table, changes, run_id=f"t{i}")
        assert res.matched_keys == batch.expected_matched
        row = table.scan().agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws("|", "image_id", "caption"))).alias("h"),
        ).first()
        assert (row["n"], row["h"]) == (len(model.live), model.hash)
    assert all(seen.values()), seen
    shutil.rmtree(root, ignore_errors=True)


def test_model_is_seeded():
    pool = Pool(data=[b"x" * (i + 1) for i in range(50)], w=np.full(50, 16), h=np.full(50, 16),
                fmt=["png"] * 50, phash=np.arange(50), caption=[f"c{i}" for i in range(50)])
    a, b, c = (Model(pool, 50, seed=s) for s in (1, 1, 2))
    ea = [(e.op, e.seq, e.version) for e in a.next_batch(100).events]
    assert ea == [(e.op, e.seq, e.version) for e in b.next_batch(100).events]
    assert ea != [(e.op, e.seq, e.version) for e in c.next_batch(100).events]


# ------------------------------------------------------------ BENCHMARK.json
def test_benchmark_json_names_and_units():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == ["cdc_ingest", "maintain"]


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    """One short run per mode: the last stdout line carries every metric
    BENCHMARK.json names, with its unit, and every check passes."""
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    out = subprocess.run(
        bench["command"] + ["--workload", "cdc_ingest", "--seed", "5", "--seconds", "1",
                            "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
