"""Pre-training mining queries: properties the oracle gate can't state.

The DuckDB oracles prove value equality; these pin the semantic
contracts — determinism, constraint satisfaction, and the bounds the
scale arguments rest on (pool caps, per-anchor K, pair shapes).
"""

from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.workload import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_bm25_scores_properties(spark):
    rows = QUERIES["bm25_scores"](spark, SF_DIR).collect()
    assert rows, "some documents must hit the fixed query terms"
    for r in rows:
        # raw-idf BM25 contributions are strictly positive: df <= N so
        # (N - df + 0.5) > 0, and tf > 0 for every counted term
        assert r["bm25"] > 0.0
        assert r["n_hits"] >= 1
    # deterministic: identical result set on a second run
    again = QUERIES["bm25_scores"](spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bpe_merge_candidates_shape(spark):
    rows = QUERIES["bpe_merge_candidates"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    assert all(len(r["pair"]) == 2 for r in rows)
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    # the testdata vocabulary is lowercase alphanumeric; so are pairs
    assert all(r["pair"].islower() or r["pair"].isdigit() or r["pair"].isalnum() for r in rows)


def test_negative_sampling_constraints(spark):
    from udacity_dend_capstone_immigration_spark.workload.pretrain import _ANCHOR_MOD, _NEG_K

    out = QUERIES["negative_sampling_pairs"](spark, SF_DIR)
    rows = out.collect()
    assert rows, "the sf0.001 corpus must yield at least one negative pair"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    per_anchor = {}
    for r in rows:
        assert r["anchor_id"] % _ANCHOR_MOD == 0
        assert r["neg_id"] != r["anchor_id"]
        # the defining constraint: negatives never share the anchor's source
        assert src[r["neg_id"]] != src[r["anchor_id"]]
        per_anchor.setdefault(r["anchor_id"], []).append(r["rank"])
    for ranks in per_anchor.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= _NEG_K
    # deterministic across runs
    again = QUERIES["negative_sampling_pairs"](spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_negative_sampling_pool_is_bounded(spark):
    """The scale argument rests on the per-bucket pool cap: candidate
    rows per anchor never exceed the pool size, whatever the corpus."""
    from udacity_dend_capstone_immigration_spark.workload.pretrain import _NEG_POOL

    out = QUERIES["negative_sampling_pairs"](spark, "/root/testdata/sf0.01")
    counts = (
        out.groupBy("anchor_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert counts and all(r["n"] <= _NEG_POOL for r in counts)


def test_bpe_apply_merge_greedy_self_pair_run(spark):
    # 'aaaa' + merge ('a','a') must consume greedily: 'aa','aa' — never
    # 'aa','a','a' (odd-ranked island positions keep)
    from udacity_dend_capstone_immigration_spark.workload.pretrain import bpe_apply_merge

    words = spark.createDataFrame(
        [("aaaa", 2, list("aaaa")), ("aaa", 1, list("aaa")), ("ba", 1, list("ba"))],
        "term string, cnt bigint, syms array<string>",
    )
    out = {
        r["term"]: r["syms"] for r in bpe_apply_merge(words, "a", "a").collect()
    }
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]
    assert out["ba"] == ["b", "a"]


def test_bpe_encode_applies_learned_merges(spark):
    # every trained merged symbol must appear in the encoded histogram,
    # and the total corpus character mass must be conserved
    from udacity_dend_capstone_immigration_spark.workload.pretrain import (
        _bpe_train,
        tokenize,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges, words = _bpe_train(spark, docs)
    enc = QUERIES["bpe_encode_corpus"](spark, SF_DIR)
    toks = {r["token"] for r in enc.select("token").collect()}
    merged_syms = {m[3] for m in merges}
    # at least one learned merge survives as a whole token in the final
    # vocab (later merges can consume earlier ones, so not necessarily all)
    assert merged_syms & toks
    char_mass = enc.select(
        F.sum(F.length("token") * F.col("total_cnt")).alias("m")
    ).first()["m"]
    raw_mass = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .select(F.sum(F.length("t")).alias("m"))
        .first()["m"]
    )
    assert char_mass == raw_mass


def test_bpe_kernel_rederives_round_state(spark):
    # _pair_count_partials(words0, learned) must equal pair counts over
    # the vocab AFTER applying the learned merges in rank order — the
    # invariant that lets training rounds scan the one materialized
    # (term, cnt) vocab instead of a per-round checkpoint chain.
    from udacity_dend_capstone_immigration_spark.workload.pretrain import (
        _apply_merges_kernel,
        _greedy_merge,
        _pair_count_partials,
    )

    words = spark.createDataFrame(
        [("banana", 3), ("bandana", 2), ("aaaa", 5), ("x", 1)],
        "term string, cnt bigint",
    )
    learned = [("a", "n"), ("b", "an")]
    got = {
        (r["lft"], r["rgt"]): r["c"]
        for r in (
            _pair_count_partials(words, learned)
            .groupBy("lft", "rgt")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
    }
    exp = {}
    for term, cnt in [("banana", 3), ("bandana", 2), ("aaaa", 5), ("x", 1)]:
        s = list(term)
        for lft, rgt in learned:
            s = _greedy_merge(s, lft, rgt, lft + rgt)
        for p in zip(s, s[1:]):
            exp[p] = exp.get(p, 0) + cnt
    assert got == exp

    # _apply_merges_kernel without a syms column derives chars from the
    # term, applies rank order with consumption, and keeps cnt intact
    out = {
        r["term"]: (r["cnt"], list(r["syms"]))
        for r in _apply_merges_kernel(words, learned).collect()
    }
    assert out["banana"] == (3, ["ban", "an", "a"])
    assert out["bandana"] == (2, ["ban", "d", "an", "a"])
    assert out["aaaa"] == (5, ["a", "a", "a", "a"])
    assert out["x"] == (1, ["x"])


def test_bpe_driver_train_equals_distributed(spark, monkeypatch):
    # r17: _bpe_train gates to a driver-side loop under the corpus
    # estimate ceiling. The two paths must be bit-identical on REAL
    # data — same merges (same (cnt DESC, lft ASC, rgt ASC) argmax),
    # same final encoded vocab — or the gate silently changes every
    # BPE-derived query with corpus size.
    from udacity_dend_capstone_immigration_spark.operators import cumsum as C
    from udacity_dend_capstone_immigration_spark.workload import pretrain as P

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    monkeypatch.setattr(C, "DRIVER_BYTES", 1 << 60)
    merges_drv, words_drv = P._bpe_train(spark, docs)
    drv = {r["term"]: (r["cnt"], tuple(r["syms"])) for r in words_drv.collect()}

    monkeypatch.setattr(C, "DRIVER_BYTES", -1)
    merges_dist, words_dist = P._bpe_train(spark, docs)
    dist = {r["term"]: (r["cnt"], tuple(r["syms"])) for r in words_dist.collect()}

    assert merges_drv == merges_dist
    assert drv == dist
