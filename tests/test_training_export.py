"""Shard export with integrity manifest: the seam that connects the
training-prep operators to the outside world (a training job reading
shards)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.training import (
    export_shards,
    shuffle_shards,
    verify_shards,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.testdata import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _shards(spark, seed="s1"):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    return shuffle_shards(docs, n_shards=5, seed=seed)


def test_export_then_verify_roundtrip(spark, tmp_path):
    out = str(tmp_path / "shards")
    manifest = export_shards(_shards(spark), out)
    assert manifest["n_shards"] == 5
    assert manifest["total_rows"] == _shards(spark).count()
    report = verify_shards(spark, out)
    assert report == {"ok": True, "missing": [], "extra": [], "mismatched": []}


def test_export_is_deterministic(spark, tmp_path):
    m1 = export_shards(_shards(spark), str(tmp_path / "a"))
    m2 = export_shards(_shards(spark), str(tmp_path / "b"))
    assert m1 == m2
    # shard FILE CONTENTS identical too, not just the stats
    for k in m1["shards"]:
        a = spark.read.parquet(str(tmp_path / "a" / f"shard={k}")).collect()
        b = spark.read.parquet(str(tmp_path / "b" / f"shard={k}")).collect()
        assert a == b


def test_shard_rows_ordered_by_pos(spark, tmp_path):
    out = str(tmp_path / "shards")
    export_shards(_shards(spark), out)
    # read ONE file raw: its physical row order must be the shuffle order
    shard_dir = os.path.join(out, "shard=0")
    files = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")]
    assert len(files) == 1  # one file per shard
    rows = spark.read.parquet(os.path.join(shard_dir, files[0])).collect()
    pos = [r["pos"] for r in rows]
    assert pos == sorted(pos) and pos[0] == 1


def test_verify_catches_all_three_failure_modes(spark, tmp_path):
    import shutil

    out = str(tmp_path / "shards")
    export_shards(_shards(spark), out)

    # missing: a shard directory vanishes
    shutil.rmtree(os.path.join(out, "shard=2"))
    rep = verify_shards(spark, out)
    assert not rep["ok"] and rep["missing"] == [2]

    # extra: a foreign shard appears (copy of shard 0 as shard 9)
    shutil.copytree(os.path.join(out, "shard=0"), os.path.join(out, "shard=9"))
    rep = verify_shards(spark, out)
    assert 9 in rep["extra"]

    # mismatched: silent content change (manifest says other rows)
    mpath = os.path.join(out, "_shard_manifest.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["shards"]["0"]["checksum"] += 1
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    rep = verify_shards(spark, out)
    assert 0 in rep["mismatched"]


def _dir_bytes(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_export_shards_incremental_rewrites_only_touched(spark, tmp_path):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.training import (
        export_shards_incremental,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    export_shards(shuffle_shards(docs, n_shards=5, seed="s1"), out)
    before = _dir_bytes(out)

    # append three new docs; their hash shards are the only ones that move
    extra = spark.createDataFrame(
        [(90001, "alpha beta"), (90002, "gamma delta"), (90003, "epsilon zeta")],
        "doc_id long, text string",
    )
    bigger = shuffle_shards(docs.unionByName(extra), n_shards=5, seed="s1")
    touched = {
        r["shard"]
        for r in bigger.filter(F.col("doc_id") >= 90001).select("shard").collect()
    }
    rep = export_shards_incremental(bigger, out)
    assert set(rep["rewritten"]) == touched and rep["removed"] == []

    after = _dir_bytes(out)
    for rel, data in before.items():
        shard = rel.split(os.sep)[0]
        if shard.startswith("shard=") and int(shard.split("=")[1]) not in touched:
            # untouched shard files are BYTE-IDENTICAL on disk
            assert after.get(rel) == data, rel
    assert verify_shards(spark, out)["ok"]

    # the incremental result equals a fresh full export, shard by shard
    fresh = str(tmp_path / "fresh")
    export_shards(bigger, fresh)
    for k in rep["manifest"]["shards"]:
        a = spark.read.parquet(os.path.join(out, f"shard={k}")).collect()
        b = spark.read.parquet(os.path.join(fresh, f"shard={k}")).collect()
        assert sorted(a) == sorted(b), k


def test_export_shards_incremental_removes_emptied_shard(spark, tmp_path):
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.training import (
        export_shards_incremental,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sh = shuffle_shards(docs, n_shards=5, seed="s1")
    out = str(tmp_path / "shards")
    export_shards(sh, out)
    # drop EVERY doc of shard 3: the incremental pass must delete it
    remaining = sh.filter(F.col("shard") != 3).drop("shard", "pos")
    rep = export_shards_incremental(
        shuffle_shards(remaining, n_shards=5, seed="s1"), out
    )
    assert rep["removed"] == [3] and not os.path.exists(
        os.path.join(out, "shard=3")
    )
    assert verify_shards(spark, out)["ok"]
    assert rep["rewritten"] == []  # other shards' rows never moved
