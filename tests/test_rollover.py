"""Alias rollover lifecycle: rollover-on-write, atomic state, alias-wide
search equal to one merged index (dfs mode)."""

from __future__ import annotations

import os

import pytest

from dp_search_data_importer_spark.checkpoint import read_stats_json
from dp_search_data_importer_spark.config import EngineConfig
from dp_search_data_importer_spark.plans import query as q
from dp_search_data_importer_spark.plans.build_index import build_index
from dp_search_data_importer_spark.plans.rollover import (
    create_alias,
    member_dirs,
    read_alias,
    search_alias,
    write_batch,
)

CFG = EngineConfig(n_shards=2)
SCHEMA = "repo string, path string, commit string, lang string, content string"

WORDS = ["import", "def", "merge", "hash", "join", "scan", "sort", "window",
         "agg", "stream", "token", "shard", "block", "query", "batch"]


def _rows(lo, hi):
    rows = []
    for i in range(lo, hi):
        words = [WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(12 + i % 9)]
        rows.append(("r1", f"src/f{i}.py", "c1", "py", " ".join(words)))
    return rows


def test_rollover_lifecycle(spark, tmp_path):
    root = str(tmp_path / "alias")
    create_alias(root, max_docs=25, code_aware=True)
    with pytest.raises(ValueError, match="already exists"):
        create_alias(root)
    with pytest.raises(ValueError, match="no members"):
        search_alias(spark, root, None, CFG)

    # batch 1 (20 docs): first member bootstraps, under the limit
    r1 = write_batch(spark, root, spark.createDataFrame(_rows(0, 20), SCHEMA),
                     CFG)
    assert r1 == {"member": "000001", "rolled_over": False,
                  "accounting": {"received": 20}}
    # batch 2 (10 docs): member 1 at 20 < 25 → upsert into it (may exceed
    # the limit by one batch, as in ES)
    r2 = write_batch(spark, root, spark.createDataFrame(_rows(20, 30),
                                                        SCHEMA), CFG)
    assert r2["member"] == "000001" and not r2["rolled_over"]
    assert read_stats_json(os.path.join(root, "000001"))["n_docs"] == 30
    # batch 3: member 1 at 30 >= 25 → rollover, fresh member
    r3 = write_batch(spark, root, spark.createDataFrame(_rows(30, 42),
                                                        SCHEMA), CFG)
    assert r3 == {"member": "000002", "rolled_over": True,
                  "accounting": {"received": 12}}
    st = read_alias(root)
    assert st["members"] == ["000001", "000002"]
    assert st["write_index"] == "000002"
    assert len(member_dirs(root)) == 2

    # alias-wide dfs search ≡ one index holding every doc ever written
    merged = str(tmp_path / "merged")
    build_index(spark, spark.createDataFrame(_rows(0, 42), SCHEMA), merged,
                CFG, code_aware=True, waves=1)
    queries = spark.createDataFrame(
        [(1, "hash join merge"), (2, "window agg")],
        "query_id long, query_text string")
    fed = {(r["query_id"], r["doc_id"]): r["score"]
           for r in search_alias(spark, root, queries, CFG, k=200).collect()}
    single = {(r["query_id"], r["doc_id"]): r["score"]
              for r in q.exact_topk(spark, merged, queries, CFG,
                                    k=200).collect()}
    assert fed == single and fed


def test_alias_stream_end_to_end(spark, tmp_path):
    """Streaming ingest through the alias: drains cut members at the
    rollover condition; the final alias dfs-search equals one merged
    index; redelivered batch ids are no-ops."""
    import json as _json

    from dp_search_data_importer_spark.plans.rollover import (
        apply_stream_batch,
        run_alias_stream,
    )

    root = str(tmp_path / "alias")
    create_alias(root, max_docs=25, code_aware=True)
    src = tmp_path / "src"
    src.mkdir()
    cols = ("repo", "path", "commit", "lang", "content")

    def put(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(dict(zip(cols, r))) + "\n")

    def drain():
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        qy = run_alias_stream(stream, root, str(tmp_path / "ck"), cfg=CFG)
        qy.awaitTermination(240)

    put("b1.json", _rows(0, 30))
    drain()
    assert read_alias(root)["members"] == ["000001"]
    put("b2.json", _rows(30, 40))  # member 1 at 30 >= 25 → rollover
    drain()
    st = read_alias(root)
    assert st["members"] == ["000001", "000002"]
    assert read_stats_json(os.path.join(root, "000002"))["n_docs"] == 10

    merged = str(tmp_path / "merged")
    build_index(spark, spark.createDataFrame(_rows(0, 40), SCHEMA), merged,
                CFG, code_aware=True, waves=1)
    queries = spark.createDataFrame([(1, "hash join merge")],
                                    "query_id long, query_text string")
    fed = {(r["query_id"], r["doc_id"]): r["score"]
           for r in search_alias(spark, root, queries, CFG, k=200).collect()}
    single = {(r["query_id"], r["doc_id"]): r["score"]
              for r in q.exact_topk(spark, merged, queries, CFG,
                                    k=200).collect()}
    assert fed == single and fed

    # redelivery: an applied batch_id is a no-op even at a rollover
    # boundary (member 2 now holds 10 < 25, but the journal wins)
    before = read_alias(root)
    assert apply_stream_batch(
        spark, root, spark.createDataFrame(_rows(30, 40), SCHEMA),
        batch_id=0, cfg=CFG) is None
    assert read_alias(root) == before

    # crash-after-intent: a journaled but unapplied decision is replayed
    # into ITS member, not re-decided
    with open(os.path.join(root, "_batch_intents.jsonl"), "a") as f:
        f.write('{"batch_id": 99, "member": "000002"}\n')
    res = apply_stream_batch(
        spark, root, spark.createDataFrame(_rows(40, 44), SCHEMA),
        batch_id=99, cfg=CFG)
    assert res["member"] == "000002"
    assert read_stats_json(os.path.join(root, "000002"))["n_docs"] == 14
