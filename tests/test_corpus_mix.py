"""Invariant tests for the corpus curation queries (corpus_mix_q) —
the oracle gate proves value equality; these pin the semantic
invariants a refactor could silently break while still matching a
co-refactored oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openmetrics_spark.queries import all_queries
from openmetrics_spark.tables import table

Q = all_queries()


def _run(spark, sf_dir, name):
    return Q[name].fn(spark, sf_dir)


def test_decontaminate_excludes_benchmark_docs(spark, sf_dir):
    out = _run(spark, sf_dir, "doc_decontaminate").collect()
    assert out, "expected at least one contaminated doc in fixtures"
    for r in out:
        assert r["doc_id"] % 10 != 0, "benchmark doc leaked into output"
        assert 1 <= r["n_overlap"] <= r["n_grams"]


def test_pack_chunks_covers_every_doc_exactly_once(spark, sf_dir):
    out = _run(spark, sf_dir, "corpus_pack_chunks")
    n_docs_packed = out.agg(F.sum("n_docs")).collect()[0][0]
    n_docs = table(spark, sf_dir, "documents").count()
    assert n_docs_packed == n_docs
    # chunks are dense per source: 0..max with no gaps
    for r in (
        out.groupBy("source")
        .agg(F.min("chunk").alias("lo"), F.max("chunk").alias("hi"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        assert r["lo"] == 0
        assert r["n"] == r["hi"] + 1, f"gap in chunks for {r['source']}"


def test_mix_weights_sum_to_one(spark, sf_dir):
    out = _run(spark, sf_dir, "domain_mix_weights")
    total = out.agg(F.sum("weight")).collect()[0][0]
    assert abs(total - 1.0) < 1e-3
    assert out.filter(F.col("weight") <= 0).count() == 0


def test_stratified_sample_is_deterministic(spark, sf_dir):
    a = sorted(r["doc_id"] for r in _run(spark, sf_dir, "corpus_sample_stratified").collect())
    b = sorted(r["doc_id"] for r in _run(spark, sf_dir, "corpus_sample_stratified").collect())
    assert a == b and a, "hash sampling must be replayable"


def test_funnel_stages_chain(spark, sf_dir):
    rows = sorted(
        _run(spark, sf_dir, "quality_filter_funnel").collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage"] for r in rows] == [1, 2, 3, 4, 5, 6]
    n_docs = table(spark, sf_dir, "documents").count()
    assert rows[0]["n_in"] == n_docs
    for prev, cur in zip(rows, rows[1:]):
        assert prev["n_out"] == cur["n_in"], "funnel stages must chain"
    for r in rows:
        assert r["n_out"] == r["n_in"] - r["n_dropped"]
        assert r["n_dropped"] >= 0


def test_dup_span_frac_bounds(spark, sf_dir):
    out = _run(spark, sf_dir, "doc_dup_span_coverage").collect()
    assert out
    for r in out:
        assert 0 <= r["n_dup_windows"] <= r["n_windows"]
        assert 0.0 <= r["dup_frac"] <= 1.0


def test_capped_logprob_equals_full_when_cap_exceeds_vocab(spark, sf_dir):
    """With cap >= |vocab| the OOV bucket is never used, so the
    broadcast capped variant must reproduce the full skew-join variant
    bit-for-bit (both round to 4 dp)."""
    from openmetrics_spark.queries.corpus_mix_q import doc_unigram_logprob_capped

    full = {
        r["doc_id"]: (r["n_tokens"], r["avg_neg_logprob"])
        for r in _run(spark, sf_dir, "doc_unigram_logprob").collect()
    }
    capped = {
        r["doc_id"]: (r["n_tokens"], r["avg_neg_logprob"])
        for r in doc_unigram_logprob_capped(spark, sf_dir, cap=10_000_000).collect()
    }
    assert capped == full


def test_capped_logprob_broadcasts_vocab(spark, sf_dir):
    """The scale contract: the scoring join must be a broadcast hash
    join — no shuffle of the token stream, no skewed sort-merge."""
    from openmetrics_spark.queries.corpus_mix_q import doc_unigram_logprob_capped

    df = doc_unigram_logprob_capped(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_connected_components_driver_and_distributed_parity(spark):
    """The small-graph union-find fast path and the distributed
    min-label/pointer-jump loop must label every node identically
    (component = min reachable id) on a graph with chains, a cycle,
    singleton-free isolated edges, and two disjoint cliques."""
    from pyspark.sql import functions as F

    from openmetrics_spark.llm.dedup import connected_components

    edges = [
        # chain 1-2-3-4 (min 1)
        (2, 1), (2, 3), (3, 4),
        # cycle 10-11-12-10 (min 10)
        (10, 11), (11, 12), (12, 10),
        # isolated edge (min 20)
        (21, 20),
        # clique 30-33 (min 30)
        (30, 31), (30, 32), (30, 33), (31, 32), (31, 33), (32, 33),
        # NULL-id rows (nullable upstream join key): no node, ignored
        # identically by BOTH paths (the driver path once crashed on
        # int(None) here)
        (None, 40), (41, None), (None, None),
    ]
    pairs = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")

    def rows(df):
        return sorted((int(r.id), int(r.component)) for r in df.collect())

    fast = rows(connected_components(pairs, "doc_a", "doc_b"))
    dist = rows(
        connected_components(pairs, "doc_a", "doc_b", driver_max_edges=0)
    )
    want = (
        [(i, 1) for i in (1, 2, 3, 4)]
        + [(i, 10) for i in (10, 11, 12)]
        + [(i, 20) for i in (20, 21)]
        + [(i, 30) for i in (30, 31, 32, 33)]
    )
    assert fast == sorted(want)
    assert dist == fast


def test_minhash_base_matches_array_signature(spark):
    """The exploded-posting signature aggregate (_minhash_base, the
    codegen path both LSH variants run on) must produce exactly the
    array-shaped minhash_signature(shingles(...)) — which stays as
    the readable spec twin."""
    from pyspark.sql import functions as F

    from openmetrics_spark.llm.dedup import (
        _minhash_base,
        minhash_signature,
        shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with many various words here"),
        (4, "to short"),          # 2 tokens -> no 3-gram shingles
        (5, ""),                  # empty
        (6, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    spec = (
        docs.select(
            F.col("doc_id").alias("doc"), shingles("text", 3).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .select("doc", minhash_signature(F.col("sh"), 8, seed=7).alias("sig"))
    )
    fast = _minhash_base(docs, "doc_id", "text", 3, 8, 7)
    s = {r.doc: list(r.sig) for r in spec.collect()}
    f = {r.doc: list(r.sig) for r in fast.collect()}
    assert set(s) == set(f) == {1, 2, 3, 6}  # short/empty docs absent
    assert s == f
    # and the shingle SET the verification uses matches the array form
    sh_spec = {
        r.doc: set(r.sh)
        for r in docs.select(
            F.col("doc_id").alias("doc"), shingles("text", 3).alias("sh")
        ).filter(F.size("sh") > 0).collect()
    }
    sh_fast = {r.doc: set(r.sh) for r in fast.select("doc", "sh").collect()}
    assert sh_spec == sh_fast


def test_simhash_base_matches_column_simhash(spark):
    """The exploded-token vote aggregate (_simhash_base, the codegen
    path the pipeline runs) must produce exactly the array-fold
    simhash() fingerprint — including fp = 0 for token-less docs,
    which must NOT drop (identical fingerprints among empty docs are
    real simhash near-dups)."""
    from pyspark.sql import functions as F

    from openmetrics_spark.llm.dedup import _simhash_base, simhash

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely"),
        (4, ""),     # no tokens -> fp 0
        (5, "   "),  # whitespace only -> fp 0
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    spec = {
        r.doc: r.fp
        for r in docs.select(
            F.col("doc_id").alias("doc"), simhash("text", 60).alias("fp")
        ).collect()
    }
    fast = {
        r.doc: r.fp for r in _simhash_base(docs, "doc_id", "text", 60).collect()
    }
    assert spec == fast
    assert fast[4] == 0 and fast[5] == 0


def test_dedup_spans_rewrite_semantics(spark):
    """A 20-token span shared by two docs must vanish from BOTH, text
    unique to each doc must survive, and short docs (< 20 tokens) are
    untouched — including when their text appears inside another doc's
    removed span."""
    from openmetrics_spark.queries import corpus_mix_q as m

    shared = " ".join(f"w{i}" for i in range(20))
    rows = [
        (1, shared + " alpha beta gamma"),
        (2, "delta " + shared),
        (3, "w0 w1 w2"),  # < 20 tokens: no windows, kept verbatim
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    import openmetrics_spark.tables as tables

    orig = tables.table
    tables.table = lambda sp, sf, name: docs
    m.table = tables.table
    try:
        got = {
            r["doc_id"]: r
            for r in m.doc_dedup_spans_rewrite(spark, "unused").collect()
        }
    finally:
        tables.table = orig
        m.table = orig
    assert got[1]["cleaned_text"] == "alpha beta gamma"
    assert got[1]["n_removed"] == 20 and got[1]["n_tokens"] == 23
    assert got[2]["cleaned_text"] == "delta"
    assert got[2]["n_removed"] == 20
    assert got[3]["cleaned_text"] == "w0 w1 w2"
    assert got[3]["n_removed"] == 0
    assert got[4]["cleaned_text"] == "" and got[4]["n_tokens"] == 0

def test_nb_trainer_separates_its_label(spark, sf_dir):
    """The fitted Bernoulli-NB model must actually LEARN: the label
    (doc contains 'key') is a function of bucket presence, so scoring
    const + sum of present-bucket weights must beat the majority-class
    baseline decisively on the training set."""
    from pyspark.sql import functions as F

    from openmetrics_spark.functions.hashing import portable_hash60
    from openmetrics_spark.llm.text import tokens
    from openmetrics_spark.queries.corpus_mix_q import (
        _NB_BUCKETS,
        _NB_LABEL,
        doc_quality_train,
    )

    model = doc_quality_train(spark, sf_dir)
    const = model.filter(F.col("bucket") == -1).first()["w_e6"]
    wdf = model.filter(F.col("bucket") >= 0).select(
        F.col("bucket").alias("b"), "w_e6"
    )
    docs = table(spark, sf_dir, "documents")
    t = docs.select(F.col("doc_id").alias("d"), tokens("text").alias("tok"))
    present = (
        t.select("d", F.explode("tok").alias("tk"))
        .select("d", (portable_hash60(F.col("tk")) % _NB_BUCKETS).alias("b"))
        .distinct()
    )
    scored = (
        t.select(
            "d", F.array_contains("tok", _NB_LABEL).cast("int").alias("y")
        )
        .join(
            present.join(F.broadcast(wdf), "b")
            .groupBy("d")
            .agg(F.sum("w_e6").alias("s")),
            "d",
            "left",
        )
        .select(
            "y",
            (
                (F.coalesce(F.col("s"), F.lit(0)) + F.lit(int(const))) > 0
            ).cast("int").alias("p"),
        )
    )
    n = scored.count()
    acc = scored.filter(F.col("y") == F.col("p")).count() / n
    base_rate = scored.agg(F.avg("y")).first()[0]
    majority = max(base_rate, 1 - base_rate)
    assert acc > majority + 0.1, (acc, majority)
    # not exactly 1.0: the label token can share its hash bucket with
    # other tokens (31 tokens in 256 buckets), so some negatives carry
    # the 'key' bucket via a collider — inherent to hash-trick features
    assert acc > 0.88, acc


def test_leakage_safe_split_no_cross_split_pairs(spark, sf_dir):
    """The load-bearing property: no near-dup pair may straddle a
    split boundary, and the three splits partition the corpus."""
    from openmetrics_spark.llm.dedup import ngram_jaccard_pairs
    from openmetrics_spark.queries.docs_q import corpus_leakage_safe_split
    from openmetrics_spark.tables import table

    out = corpus_leakage_safe_split(spark, sf_dir)
    split_of = {r.doc_id: r.split for r in out.collect()}
    n_docs = table(spark, sf_dir, "documents").count()
    assert len(split_of) == n_docs
    assert set(split_of.values()) <= {"train", "val", "test"}
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=50
    ).collect()
    assert pairs, "fixture must contain near-dup pairs for this test"
    for p in pairs:
        assert split_of[p.doc_a] == split_of[p.doc_b], (p.doc_a, p.doc_b)


def test_ngram_jaccard_pairs_rejects_ambiguous_input_column(spark):
    """Exactly one of text_col / tok_col: both or neither is an error,
    raised (not asserted) so it holds under ``python -O`` too."""
    from openmetrics_spark.llm.dedup import ngram_jaccard_pairs

    docs = spark.range(1).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="exactly one"):
        ngram_jaccard_pairs(docs, "doc_id")
    with pytest.raises(ValueError, match="exactly one"):
        ngram_jaccard_pairs(docs, "doc_id", text_col="text", tok_col="tok")


def test_manifest_v3_composes_standalone_results(spark, sf_dir):
    """Stage-boundary check for the composed chain: every v3 row must
    agree with the standalone operators — same survivor/sample set as
    v2, span stats consistent (n_removed + n_clean_tokens ==
    n_tokens can FAIL legitimately: v3 detects spans over survivors
    only, so its n_removed <= the full-corpus rewrite's), and the NB
    score must separate the label like the trained model does."""
    from openmetrics_spark.queries.corpus_mix_q import (
        corpus_prep_manifest_v2,
        corpus_prep_manifest_v3,
    )

    v2 = {r.doc_id: r for r in corpus_prep_manifest_v2(spark, sf_dir).collect()}
    v3 = {r.doc_id: r for r in corpus_prep_manifest_v3(spark, sf_dir).collect()}
    assert set(v2) == set(v3)  # same manifest membership
    for d, r in v3.items():
        assert r.n_tokens == v2[d].n_tokens
        assert r.quality == v2[d].quality
        assert 0 <= r.n_removed <= r.n_tokens
        assert r.n_clean_tokens == r.n_tokens - r.n_removed


def test_token_budget_select_matches_naive_window(spark, sf_dir):
    """The grid-bounded selection must equal the naive per-source
    window greedy (same q_int, same tie-break) — the scale rewrite is
    an algorithm change, not a semantics change."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openmetrics_spark.llm.text import quality_score, token_count, tokens
    from openmetrics_spark.queries.docs_q import corpus_token_budget_select
    from openmetrics_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", tokens("text").alias("tok"))
    d = t.select(
        "doc_id",
        "source",
        token_count(F.col("tok")).alias("n_tok"),
        F.floor(quality_score("text", F.col("tok")) * 1000 + F.lit(0.5))
        .cast("long")
        .alias("q_int"),
    )
    b = d.groupBy("source").agg(
        F.floor(F.sum("n_tok") * 0.3).cast("long").alias("budget_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("q_int"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        d.join(b, "source")
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(F.col("cum_tok") <= F.col("budget_tokens"))
        .groupBy("source", "budget_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum("n_tok").cast("long").alias("tokens_selected"),
            F.min("q_int").cast("long").alias("min_q_admitted"),
        )
    )
    got = sorted(
        tuple(r)
        for r in corpus_token_budget_select(spark, sf_dir)
        .select(
            "source",
            "budget_tokens",
            "n_selected",
            "tokens_selected",
            "min_q_admitted",
        )
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in naive.select(
            "source",
            "budget_tokens",
            "n_selected",
            "tokens_selected",
            "min_q_admitted",
        ).collect()
    )
    assert got == want and len(got) > 0


def test_token_budget_select_adversarial_ties(spark):
    """The grid algorithm's boundary-window path barely fires on the
    organic testdata (1001 quality levels, few exact ties) — craft a
    corpus where almost EVERY doc shares one quality level so the
    budget boundary cuts inside a big tie group, plus zero-token docs
    and a second level, and check against a pure-Python greedy model."""
    import re as _re

    from pyspark.sql import types as T

    import openmetrics_spark.queries.docs_q as docs_mod

    rows = []
    # source A: 12 unique-word docs (diversity 1, no stopwords ->
    # quality exactly 0.5 -> level 500), growing token counts so the
    # 30% budget cuts mid-group; doc_ids shuffled vs sizes
    for i, n_tok in enumerate([7, 3, 9, 1, 5, 11, 2, 8, 4, 10, 6, 12]):
        text = " ".join(f"w{i}x{j}" for j in range(n_tok))
        rows.append((100 + i, text, "en", "A", len(text)))
    # source A extras: two zero-token docs (level 0) and two
    # stopword-heavy docs (higher level than 500)
    rows.append((200, "", "en", "A", 0))
    rows.append((201, "!!! ???", "en", "A", 7))
    rows.append((202, "the and of to unique1", "en", "A", 21))
    rows.append((203, "the and of to unique2 unique3", "en", "A", 29))
    # source B: all ties, budget cuts inside the group
    for i, n_tok in enumerate([4, 4, 4, 4, 4]):
        text = " ".join(f"b{i}y{j}" for j in range(n_tok))
        rows.append((300 + i, text, "en", "B", len(text)))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    crafted = spark.createDataFrame(rows, schema)

    real = docs_mod.table
    docs_mod.table = lambda s_, d_, n_: crafted if n_ == "documents" else real(s_, d_, n_)
    try:
        got = sorted(
            tuple(r)
            for r in docs_mod.corpus_token_budget_select(spark, "ignored")
            .select(
                "source",
                "budget_tokens",
                "n_selected",
                "tokens_selected",
                "min_q_admitted",
            )
            .collect()
        )
    finally:
        docs_mod.table = real

    # pure-Python model of the same greedy
    _STOP = {"the", "and", "of", "to", "a", "in", "is", "that", "it",
             "for", "on", "with", "as", "this"}

    def q_int(text):
        tok = _re.findall(r"[a-z0-9]+", text.lower())
        n = len(tok)
        if n == 0:
            return 0, 0
        div = len(set(tok)) / n
        stop = min(sum(t in _STOP for t in tok) / n * 5, 1.0)
        q = round(0.5 * div + 0.5 * stop, 6)
        return int(q * 1000 + 0.5), n

    per_source = {}
    for doc_id, text, _lang, source, _nc in rows:
        qi, n = q_int(text)
        per_source.setdefault(source, []).append((doc_id, n, qi))
    want = []
    for source, docs in per_source.items():
        budget = int(0.3 * sum(n for _, n, _ in docs))
        cum, sel_n, sel_tok, min_q = 0, 0, 0, None
        for doc_id, n, qi in sorted(docs, key=lambda d: (-d[2], d[0])):
            cum += n
            if cum > budget:
                break
            sel_n += 1
            sel_tok += n
            min_q = qi if min_q is None else min(min_q, qi)
        if sel_n:
            want.append((source, budget, sel_n, sel_tok, min_q))
    assert got == sorted(want), (got, sorted(want))


def test_neardup_keep_best_quality_ties_and_nonmin_keeper(spark):
    """Two crafted near-dup families: one where every member ties on
    quality (keeper must fall back to min doc_id) and one where the
    highest-quality member carries the LARGEST doc_id (keeper must NOT
    be the min-id canonical) — the two cases that distinguish the
    packed-key argmax from min-id canonicalization."""
    from pyspark.sql import types as T

    import openmetrics_spark.queries.docs_q as docs_mod

    # family 1: three copies of the same 12 unique words, one word
    # swapped per copy -> pairwise Jaccard >= 0.5, quality identical
    base = [f"fam1tok{j}" for j in range(12)]
    fam1 = []
    for i, did in enumerate([510, 507, 503]):
        words = list(base)
        words[-1] = f"fam1var{i}"
        fam1.append((did, " ".join(words)))
    # family 2: same shingle core, but the LARGEST id member carries
    # stopwords appended -> strictly higher quality than its twins
    core = [f"fam2tok{j}" for j in range(12)]
    fam2 = [
        (601, " ".join(core)),
        (602, " ".join(core + ["fam2pad1"])),
        (699, " ".join(core + ["the", "and", "of", "to"])),
    ]
    rows = [
        (did, text, "en", "X", len(text)) for did, text in fam1 + fam2
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    crafted = spark.createDataFrame(rows, schema)
    real = docs_mod.table
    docs_mod.table = lambda s_, d_, n_: crafted if n_ == "documents" else real(s_, d_, n_)
    try:
        got = {
            r.cluster_id: (r.keeper_id, r.cluster_size)
            for r in docs_mod.neardup_keep_best_quality(spark, "ignored").collect()
        }
    finally:
        docs_mod.table = real
    # family 1: all quality-tied -> keeper = smallest doc_id (503)
    assert got[503] == (503, 3), got
    # family 2: stopword-bearing 699 has the highest quality -> keeper
    # is NOT the min-id canonical (601)
    assert got[601][0] == 699 and got[601][1] == 3, got


def test_chunk_overlap_coverage_invariants(spark, sf_dir):
    """Every token index of every non-empty doc must be covered by at
    least one chunk, consecutive chunks must overlap by exactly
    window-stride (except a short tail), and chunk token counts must
    re-sum to the documented inflation."""
    from pyspark.sql import functions as F

    from openmetrics_spark.llm.text import tokens
    from openmetrics_spark.queries.docs_q import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
        corpus_chunk_overlap,
    )
    from openmetrics_spark.tables import table

    chunks = corpus_chunk_overlap(spark, sf_dir).collect()
    n_tok = {
        r.doc_id: r.n
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens("text")).alias("n"))
        .collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        n = n_tok[doc_id]
        assert rows[0].start_tok == 0
        covered = 0
        for r in rows:
            assert r.start_tok == r.chunk_idx * _CHUNK_STRIDE
            assert r.start_tok < n
            assert r.n_in_chunk == min(_CHUNK_TOKENS, n - r.start_tok)
            covered = max(covered, r.start_tok + r.n_in_chunk)
        assert covered == n, (doc_id, covered, n)
        # chunk count = ceil(n / stride)
        assert len(rows) == -(-n // _CHUNK_STRIDE), (doc_id, len(rows), n)
    # every non-empty doc chunked
    assert set(by_doc) == {d for d, n in n_tok.items() if n > 0}


def test_incremental_admit_invariants(spark, sf_dir):
    """corpus_incremental_admit: the manifest's internal arithmetic —
    monotone stage shrinkage, per-source admission within the standing
    remaining budget, shards partitioning the admitted set — plus
    non-vacuity of every rejection stage at the test SF."""
    from openmetrics_spark.queries.docs_q import corpus_incremental_admit

    rows = {r.stage: r for r in corpus_incremental_admit(spark, sf_dir).collect()}
    p0, p1 = rows["p0_batch"], rows["p1_exact_survivors"]
    p2, p3 = rows["p2_neardup_survivors"], rows["p3_admitted"]
    # monotone shrink: each stage is a subset of the previous
    assert p0.n_docs >= p1.n_docs >= p2.n_docs >= p3.n_docs
    assert p0.n_tokens >= p1.n_tokens >= p2.n_tokens >= p3.n_tokens
    # non-vacuous where SF-independent: the budget always bites (the
    # remaining standing budget is ~30% of the surviving batch) and
    # something is always admitted. The dedup stages' rejections are
    # data-dependent (no cross-parity dupes at sf0.001; 12+12 at
    # sf0.01) — their correctness is pinned by the driver's sf0.01
    # oracle hash, not by this invariant.
    assert p2.n_docs > p3.n_docs, "budget admission excluded nothing"
    assert p3.n_docs > 0, "nothing admitted"
    # per-source admission within the remaining standing budget
    for stage, r in rows.items():
        if stage.startswith("src_"):
            rem = rows["rem_" + stage[4:]]
            assert r.n_tokens <= rem.n_tokens, (stage, r.n_tokens, rem.n_tokens)
    # shards partition the admitted set exactly
    sh_docs = sum(r.n_docs for s, r in rows.items() if s.startswith("p4_shard_"))
    sh_tok = sum(r.n_tokens for s, r in rows.items() if s.startswith("p4_shard_"))
    assert (sh_docs, sh_tok) == (p3.n_docs, p3.n_tokens)
    # src rows partition the admitted set too
    src_docs = sum(r.n_docs for s, r in rows.items() if s.startswith("src_"))
    assert src_docs == p3.n_docs


def test_two_batch_ledger_evolution(spark, sf_dir):
    """corpus_two_batch_ledger: the standing state demonstrably
    EVOLVES between batches — some planted batch-1 copies are
    exact-rejected in batch 2 (their originals entered the corpus) and
    some survive (their originals were budget-excluded) — plus the
    ledger arithmetic holds per source."""
    from openmetrics_spark.queries.docs_q import corpus_two_batch_ledger

    rows = {r.stage: r for r in corpus_two_batch_ledger(spark, sf_dir).collect()}
    plant, rej = rows["plant_in"], rows["plant_exact_rejected"]
    assert plant.n_docs > 0
    # both classes must exist or the evolution gate is vacuous
    assert 0 < rej.n_docs < plant.n_docs, (rej.n_docs, plant.n_docs)
    # monotone shrink within each batch
    for b in ("b1", "b2"):
        assert (
            rows[f"{b}_in"].n_docs
            >= rows[f"{b}_exact_surv"].n_docs
            >= rows[f"{b}_nd_surv"].n_docs
            >= rows[f"{b}_admitted"].n_docs
        )
    # something admitted in both batches, and batch 2 strictly
    # rationed (the ledger carried batch 1's consumption forward)
    assert rows["b1_admitted"].n_docs > 0
    assert rows["b2_admitted"].n_docs > 0
    assert rows["b2_admitted"].n_docs < rows["b2_nd_surv"].n_docs


def test_quality_drift_bounds(spark, sf_dir):
    """corpus_quality_drift: the scaled L1 respects its algebraic
    bounds (0 <= l1 <= 2 * n_sta * n_inc, the total-variation ceiling)
    and every source reports both halves non-empty at the test SF."""
    from openmetrics_spark.queries.docs_q import corpus_quality_drift

    rows = corpus_quality_drift(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_sta > 0 and r.n_inc > 0, r
        assert 0 <= r.l1_scaled <= 2 * r.n_sta * r.n_inc, r
