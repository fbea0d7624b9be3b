"""Stage-gates for the r16-staged chunk-store family (r17 window
candidates): every oracle proven cross-engine at sf0.001 BEFORE
registration, the r14→r15→r16 staging pattern."""

import duckdb
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _oracle_rows(sql):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    return con.sql(sql).fetchall()


def test_chunk_store_build_roundtrip_stage_gate(spark):
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        _CHUNK_STORE_BUILD_ORACLE,
        chunk_store_build_roundtrip,
    )

    got = sorted(map(tuple, chunk_store_build_roundtrip(spark, SF).collect()))
    want = sorted(map(tuple, _oracle_rows(_CHUNK_STORE_BUILD_ORACLE)))
    assert got == want
    assert len(got) > 1  # the layout actually fans out across buckets


def test_chunk_store_append_roundtrip_stage_gate(spark):
    """Append ≡ rebuild: the store built on 2/3 + appended 1/3 must
    aggregate exactly like a full-corpus rebuild, per persisted
    bucket."""
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        _CHUNK_STORE_APPEND_ORACLE,
        chunk_store_append_roundtrip,
    )

    got = sorted(map(tuple, chunk_store_append_roundtrip(spark, SF).collect()))
    want = sorted(map(tuple, _oracle_rows(_CHUNK_STORE_APPEND_ORACLE)))
    assert got == want


def test_chunk_boilerplate_served_stage_gate(spark):
    """Serve ≡ inline (shares chunk_boilerplate_windows' oracle), and
    the serve plan is chunk-build-free: a bare store scan feeds the
    aggregate — no Generate (explode) anywhere in the executed plan."""
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        chunk_boilerplate_served,
    )
    from udacity_dend_capstone_immigration_spark.workload.textops import (
        _CHUNK_BOILERPLATE_ORACLE,
    )

    df = chunk_boilerplate_served(spark, SF)
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, _oracle_rows(_CHUNK_BOILERPLATE_ORACLE)))
    assert got == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "serve plan re-built chunks"
    assert "chunks" in plan  # reads the persisted relation


def test_chunk_tf_knn_stage_gate(spark):
    """Chunk-grain hashed-TF retrieval matches its DuckDB oracle
    value-for-value (exact-bigint dot/norms, one double division), and
    the result is a well-formed top-k: rn dense 1..k per query chunk,
    cosine within (0, 1] and non-increasing along each ranking."""
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        _CHUNK_TF_KNN_ORACLE,
        _KNN_TOPK,
        chunk_tf_knn,
    )

    out = chunk_tf_knn(spark, SF)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, _oracle_rows(_CHUNK_TF_KNN_ORACLE)))
    assert got == want
    per_q = {}
    for qid, qidx, cid, cidx, dot, cos, rn in got:
        assert 0.0 < cos <= 1.0 + 1e-12
        assert dot >= 1  # a ranked pair shares at least one bucket
        per_q.setdefault((qid, qidx), []).append((rn, cos))
    for key, rows in per_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= _KNN_TOPK
        coses = [c for _, c in rows]
        assert coses == sorted(coses, reverse=True)


def test_chunk_store_delete_roundtrip_stage_gate(spark):
    """Delete ≡ rebuild-without: build(full) → tombstone → fold →
    served aggregate matches the from-scratch oracle on the surviving
    corpus."""
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        _CHUNK_STORE_DELETE_ORACLE,
        chunk_store_delete_roundtrip,
    )

    got = sorted(map(tuple, chunk_store_delete_roundtrip(spark, SF).collect()))
    want = sorted(map(tuple, _oracle_rows(_CHUNK_STORE_DELETE_ORACLE)))
    assert got == want


def test_chunk_store_tombstone_serve_equals_fold_and_plan_noop(spark):
    """(a) before any delete, the served read is a BARE store scan (no
    anti-join in the plan); (b) tombstone-serve ≡ post-fold serve,
    row-for-row; (c) fold is idempotent (second run is a no-op); (d) a
    purge that empties every partition drops the directories and an
    unmarked stage from a crashed run is swept."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    store = C.build_chunk_store(
        spark, docs, tempfile.mkdtemp(prefix="chunk_store_t_")
    )
    plan = (
        C.read_chunk_store_served(spark, store)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan  # (a) no tombstone table -> plan no-op

    dead = docs.where(F.col("doc_id") % 3 == 0).select("doc_id")
    C.delete_docs_from_chunk_store(spark, store, dead)
    served_before = sorted(
        map(tuple, C.read_chunk_store_served(spark, store).collect())
    )
    # (d-pre) a stage a crash left before its marker must not break
    # the fold, which sweeps it
    os.makedirs(f"{store}/_stage_orphan/chunks/h_pt=junk", exist_ok=True)
    C.fold_chunk_store_tombstones(spark, store)
    assert not [e for e in os.listdir(store) if e.startswith("_stage_")]
    assert not os.path.isdir(f"{store}/deleted_docs")
    served_after = sorted(
        map(tuple, C.read_chunk_store_served(spark, store).collect())
    )
    assert served_before == served_after  # (b)
    C.fold_chunk_store_tombstones(spark, store)  # (c) no-op, no raise
    assert sorted(
        map(tuple, C.read_chunk_store_served(spark, store).collect())
    ) == served_after

    # (d) deleting EVERY remaining doc empties and drops all partitions
    C.delete_docs_from_chunk_store(spark, store, docs.select("doc_id"))
    C.fold_chunk_store_tombstones(spark, store)
    parts = [p for p in os.listdir(f"{store}/chunks") if p.startswith("h_pt=")]
    assert parts == []


def _served_chunks(spark, store):
    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    return sorted(map(tuple, C.read_chunk_store_served(spark, store).collect()))


def test_tombstone_fold_crash_keeps_survivors(spark):
    """Regression: the tombstone fold deleted each live ``h_pt=``
    partition before renaming its staged survivors into place, and a
    re-run cleared the stage first, so a crash between the two lost that
    partition's surviving rows for good. Crashed at each of its first
    mutations, the fold must leave the served rows whole, before and
    after a re-run."""
    import tempfile

    from tests.fixtures.crash import crash_matrix
    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    store = C.build_chunk_store(
        spark, docs, tempfile.mkdtemp(prefix="chunk_store_crash_t_")
    )
    dead = docs.select("doc_id").orderBy("doc_id").limit(2)
    C.delete_docs_from_chunk_store(spark, store, dead)
    crash_matrix(
        store,
        lambda d: C.fold_chunk_store_tombstones(spark, d),
        lambda d: _served_chunks(spark, d),
        points=(1, 2, 3),
        rerun=True,
    )


def test_delete_crash_leaves_delete_absent_or_whole(spark):
    """A delete is one staged store commit: crashed at every mutation
    it makes, the store serves the delete absent or whole."""
    import tempfile

    from tests.fixtures.crash import crash_matrix
    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    store = C.build_chunk_store(
        spark, docs, tempfile.mkdtemp(prefix="chunk_store_delcrash_t_")
    )
    dead = docs.select("doc_id").orderBy("doc_id").limit(3)
    n = crash_matrix(
        store,
        lambda d: C.delete_docs_from_chunk_store(spark, d, dead),
        lambda d: _served_chunks(spark, d),
    )
    assert n >= 1  # an in-place append makes no counted mutation


@pytest.mark.slow
def test_every_chunk_store_rewrite_survives_a_crash_at_every_step(spark, tmp_path):
    """Delta fold and tombstone fold, each crashed once before its marker
    and at every mutation after it: the store serves exactly the state
    before or after the call."""
    import tempfile

    from pyspark.sql import functions as F

    from tests.fixtures.crash import crash_matrix
    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    store = C.build_chunk_store(
        spark,
        docs.where(F.col("doc_id") % 3 != 0),
        tempfile.mkdtemp(prefix="chunk_store_matrix_t_"),
    )
    src = str(tmp_path / "docs")
    docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text").write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    C.stream_append_to_chunk_store(spark, stream, store, str(tmp_path / "ck"))
    C.delete_docs_from_chunk_store(
        spark, store, docs.where(F.col("doc_id") % 4 == 0).select("doc_id")
    )
    served = lambda d: _served_chunks(spark, d)  # noqa: E731
    n_delta = crash_matrix(store, lambda d: C.fold_chunk_store_delta(spark, d), served)
    n_tomb = crash_matrix(store, lambda d: C.fold_chunk_store_tombstones(spark, d), served)
    assert n_delta >= 4 and n_tomb > n_delta


def test_documents_stream_chunk_append_stage_gate(spark):
    """Streamed landing ≡ from-scratch rebuild on the union (shares
    the batch append oracle), and a REPLAYED wave (same checkpoint,
    fresh delta landing dirs wiped) does not duplicate rows — the
    lineage-addressed batch_pt overwrite contract."""
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        _CHUNK_STORE_APPEND_ORACLE,
        documents_stream_chunk_append,
    )

    got = sorted(
        map(tuple, documents_stream_chunk_append(spark, SF).collect())
    )
    want = sorted(map(tuple, _oracle_rows(_CHUNK_STORE_APPEND_ORACLE)))
    assert got == want


def test_stream_chunk_append_replay_and_fold(spark):
    """Replaying the SAME wave through a FRESH checkpoint (the
    double-ingestion hazard) lands a second lineage — then the delta
    fold compacts main ∪ delta without loss; a dead-doc tombstone
    pending during the fold cannot resurrect from the delta."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    store = C.build_chunk_store(
        spark,
        docs.where(F.col("doc_id") % 3 != 0),
        tempfile.mkdtemp(prefix="chunk_stream_t_"),
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF)
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    ck = tempfile.mkdtemp(prefix="ck_chunk_replay_")
    C.stream_append_to_chunk_store(spark, stream, store, ck)
    n1 = C.read_chunk_store(spark, store).count()
    # replay through the SAME checkpoint: availableNow re-run consumes
    # nothing new; even if it re-fired, the lineage-addressed overwrite
    # would land on itself — count unchanged
    C.stream_append_to_chunk_store(spark, stream, store, ck)
    assert C.read_chunk_store(spark, store).count() == n1

    # tombstone a streamed doc while its rows still sit in the DELTA,
    # then fold tombstones: the delta must fold first or the dead rows
    # resurrect
    dead_id = 3  # doc_id 3 streams in (3 % 3 == 0)
    C.delete_docs_from_chunk_store(
        spark, store, spark.createDataFrame([(dead_id,)], "doc_id long")
    )
    C.fold_chunk_store_tombstones(spark, store)
    assert not os.path.isdir(f"{store}/chunks_delta")
    after = C.read_chunk_store(spark, store)
    assert after.where(F.col("doc_id") == dead_id).count() == 0
    from udacity_dend_capstone_immigration_spark.operators.curation import (
        chunk_documents,
    )

    dead_chunks = chunk_documents(
        docs.where(F.col("doc_id") == dead_id), "doc_id", "text"
    ).count()
    assert dead_chunks > 0 and after.count() == n1 - dead_chunks


def test_chunk_maintenance_policy(spark):
    """Metadata-only trigger: quiet store not due; 4 pending streamed
    batches -> due -> run folds the delta; a pending tombstone -> due
    -> run folds tombstones (and the delta with them)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from udacity_dend_capstone_immigration_spark.workload import chunkstore as C

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    store = C.build_chunk_store(
        spark, docs.where(F.col("doc_id") % 2 == 0),
        tempfile.mkdtemp(prefix="chunk_maint_t_"),
    )
    assert C.chunk_maintenance_due(store)["due"] is False
    assert C.run_chunk_maintenance(spark, store) is False

    # land 4 delta batches (one per doc wave) via the streaming writer
    # contract's layout — write them directly, batch-addressed
    odd = docs.where(F.col("doc_id") % 2 == 1)
    for i in range(4):
        wave = odd.where(F.col("doc_id") % 4 == (2 * i + 1) % 4)
        ch = C.chunk_documents(wave, "doc_id", "text").withColumn(
            "h_pt", C._hex_bucket(F.col("chunk_hash"), C.N_CHUNK_BUCKETS)
        )
        ch.write.mode("overwrite").partitionBy("h_pt").parquet(
            f"{store}/chunks_delta/batch_pt=t-{i}"
        )
    rep = C.chunk_maintenance_due(store)
    assert rep["due"] and rep["pending_batches"] == 4
    n_before = C.read_chunk_store(spark, store).count()
    assert C.run_chunk_maintenance(spark, store) is True
    assert not os.path.isdir(f"{store}/chunks_delta")
    assert C.read_chunk_store(spark, store).count() == n_before

    C.delete_docs_from_chunk_store(
        spark, store, docs.limit(3).select("doc_id")
    )
    rep = C.chunk_maintenance_due(store)
    assert rep["due"] and rep["pending_tombstones"]
    assert C.run_chunk_maintenance(spark, store) is True
    assert not os.path.isdir(f"{store}/deleted_docs")
    assert C.chunk_maintenance_due(store)["due"] is False


def test_doc_unique_chunk_ratio_served_stage_gate(spark):
    """Serve ≡ inline for the novelty signal (shares the registered
    oracle), and the serve plan never re-chunks (no Generate)."""
    from udacity_dend_capstone_immigration_spark.workload import ORACLES
    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        doc_unique_chunk_ratio_served,
    )

    df = doc_unique_chunk_ratio_served(spark, SF)
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, _oracle_rows(ORACLES["doc_unique_chunk_ratio"])))
    assert got == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan


def test_chunk_grid_exhaustive_vs_reference(spark):
    """Exhaustive window-grid check: for every token count 0..40 and a
    spread of (size, stride) configs (shorter-than-window, exact
    multiples, overlap, stride==size, stride 1), chunk_documents must
    equal a direct Python reference — every boundary, every tail, and
    the no-fully-redundant-tail rule. One Spark job per config."""
    import hashlib

    from udacity_dend_capstone_immigration_spark.operators.curation import (
        chunk_documents,
    )

    def reference(toks, size, stride):
        if not toks:
            return {}
        nt = len(toks)
        n_chunks = 1 if nt <= size else -(-(nt - size) // stride) + 1
        out = {}
        for k in range(n_chunks):
            win = toks[k * stride : k * stride + size]
            out[k] = (
                k * stride,
                len(win),
                hashlib.md5(" ".join(win).encode()).hexdigest(),
            )
        return out

    docs = [
        (n, " ".join(f"t{i}" for i in range(n))) for n in range(0, 41)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for size, stride in [(8, 5), (6, 6), (5, 3), (4, 1), (64, 48), (3, 2)]:
        rows = chunk_documents(
            df, "doc_id", "text", size=size, stride=stride
        ).collect()
        got = {}
        for r in rows:
            got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = (
                r["start_tok"],
                r["n_tokens"],
                r["chunk_hash"],
            )
        for n, text in docs:
            want = reference(text.split() if text else [], size, stride)
            assert got.get(n, {}) == want, (size, stride, n)
            # coverage + no-redundant-tail invariants from the reference
            if want:
                covered = set()
                for k, (st, ln, _h) in want.items():
                    covered.update(range(st, st + ln))
                assert covered == set(range(n))
                last = max(want)
                if last > 0:
                    # the final window adds at least one NEW token
                    prev_end = (last - 1) * stride + min(size, n - (last - 1) * stride)
                    assert last * stride + want[last][1] > prev_end


def test_chunk_batch_novelty_report_stage_gate(spark):
    """r18 stage-gate: the ingest-time novelty report matches its
    DuckDB oracle value-for-value, covers every non-empty batch doc,
    ratios live in [0,1], and the store probe scan is partition-
    filtered (h_pt IN ...) rather than a full store read."""
    import contextlib
    import io

    from udacity_dend_capstone_immigration_spark.workload.chunkstore import (
        _CHUNK_BATCH_NOVELTY_ORACLE,
        chunk_batch_novelty_report,
    )

    df = chunk_batch_novelty_report(spark, SF)
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, _oracle_rows(_CHUNK_BATCH_NOVELTY_ORACLE)))
    assert got == want
    assert all(0.0 <= r[3] <= 1.0 for r in got)
    assert len(got) > 50
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the touched-bucket list must reach the store scan as a STATIC
    # partition filter (INSET over h_pt), not a post-scan predicate
    assert any(
        "PartitionFilters" in ln and "h_pt" in ln and "INSET" in ln
        for ln in plan.splitlines()
    ), plan[:2000]
