"""The delta tier (`sources/store.py`) behind every store reader that
serves streamed batches: with no pending batch the read is a bare main
scan, one streamed batch is served beside main and counted by
``store.pending``, and ``exclude_batch`` drops exactly that batch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_dedupstore import CORPUS, _docs
from tests.test_index_maintenance import SF_DIR
from udacity_dend_capstone_immigration_spark.sources import store
from udacity_dend_capstone_immigration_spark.workload import chunkstore as C
from udacity_dend_capstone_immigration_spark.workload import dedupstore as D
from udacity_dend_capstone_immigration_spark.workload import vectors as V


def _vectors(build, stream_append, read, rel):
    def setup(spark, d):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        build(spark, SF_DIR, d, emb=emb.where(F.col("vec_id") % 7 != 0))
        batch = emb.where(F.col("vec_id") % 7 == 0)
        return batch, stream_append, read, rel, ["vec_id", "cell"]

    return setup


def _chunk(spark, d):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    C.build_chunk_store(spark, docs.where(F.col("doc_id") % 3 != 0), d)
    batch = docs.where(F.col("doc_id") % 3 == 0)
    return (
        batch,
        C.stream_append_to_chunk_store,
        C.read_chunk_store,
        "chunks",
        ["doc_id", "chunk_idx"],
    )


def _dedup(spark, d):
    D.build_dedup_index(spark, _docs(spark, CORPUS), d, cap=3)
    batch = _docs(spark, [(5, "p q r s t")])
    return (
        batch,
        D.stream_append_to_dedup_index,
        D.read_dedup_shingle_index,
        "shingle_index",
        ["cid", "g"],
    )


#: store -> setup(spark, dir) returning (batch, streamed append,
#: reader, delta relation, served columns keyed by the batch's id)
STORES = {
    "flat": _vectors(
        V.build_ivf_flat_index,
        V.stream_append_to_ivf_flat_index,
        V.read_ivf_flat_store,
        "ivf_vectors",
    ),
    "sq8": _vectors(
        V.build_ivf_sq8_index,
        V.stream_append_to_sq8_index,
        V.read_sq8_store,
        "sq8_codes",
    ),
    "chunk": _chunk,
    "dedup": _dedup,
}


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("kind", sorted(STORES))
def test_delta_tier_serves_pending_batches(spark, tmp_path, kind):
    d = str(tmp_path / "store")
    batch, stream_append, read, rel, cols = STORES[kind](spark, d)

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    assert store.pending(d, [rel]) == {}
    assert "Union" not in _plan(read(spark, d))
    before = rows(read(spark, d))

    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    stream_append(spark, stream, d, str(tmp_path / "ck"))
    assert store.pending(d, [rel]) == {rel: 1}
    assert "Union" in _plan(read(spark, d))
    new_ids = {r[0] for r in batch.select(batch.columns[0]).collect()}
    after = rows(read(spark, d))
    assert [r for r in after if r[0] not in new_ids] == before
    assert len(after) > len(before)

    (bpt,) = [
        e.split("=", 1)[1]
        for e in os.listdir(f"{d}/{rel}_delta")
        if e.startswith("batch_pt=")
    ]
    excluded = store.read_with_delta(spark, d, rel, cols, exclude_batch=bpt)
    assert rows(excluded) == before
