"""Deduplication for training-data pipelines.

Four tiers, cheapest → most semantic, all shuffle-frugal:

- exact: hash text → groupBy hash (one shuffle of (hash, id) pairs).
- n-gram Jaccard: shingle → inverted-index self-join on shingle hash →
  pairwise Jaccard. A document-frequency cap on shingles bounds the
  quadratic blowup of stop-shingles (same idea as dropping stop-words):
  a shingle appearing in >max_df docs generates no candidate pairs.
- MinHash + LSH: k permuted min-hashes over shingle hashes (pure
  column expressions via transform/array_min — JVM-side), banded into
  b buckets; only same-bucket docs become candidate pairs, then exact
  Jaccard verifies. This is the 100 TB path: candidate generation is
  linear in docs × bands, never all-pairs.
- SimHash: 60-bit sign-of-weighted-bit-sums fingerprint; near-dups =
  fingerprints within small Hamming distance (block them by band for
  candidate generation).

Permutation constants are fixed (deterministic) so the DuckDB oracle
can generate identical signatures from the same constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openmetrics_spark.functions.hashing import portable_hash60
from openmetrics_spark.llm.text import tokens
from openmetrics_spark.tables import pin, spread_for_compute

# MinHash "permutations" are independent salted hashes
# h_i(x) = md5_60(f"{seed}_{i}_{x}") rather than affine (a*x+b) mod p:
# the affine form over 60-bit shingle hashes overflows int64 (a hard
# error under ANSI mode, and not reproducible by an int64 SQL oracle),
# while salted re-hashing is the standard equivalent (Broder '97
# min-wise independent families) and is bit-identical in any engine
# with md5. Sentinel for empty shingle sets:
MINHASH_EMPTY = (1 << 61) - 1


def distinct_grams_from_tok(tok: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles (array<string>) from a TOKEN-ARRAY
    column — THE gram builder; every shingle producer (text or
    pre-tokenized) routes through this one expression so the gram
    construction can never silently diverge between caller paths."""
    # shingle i = tokens[i..i+n-1]; build via transform over an index
    # range. Guard: Spark's sequence(1, 0) DESCENDS, so short docs
    # must produce an explicit empty array.
    idx = F.when(
        F.size(tok) >= n, F.sequence(F.lit(1), F.size(tok) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tok, i, n), " "))
    return F.array_distinct(grams)


def distinct_grams(text_col: str, n: int = 3) -> Column:
    """Distinct n-gram token shingles as STRINGS (array<string>).

    Token n-grams joined with a space. Consumers that explode should
    hash AFTER the explode (codegen) rather than taking :func:`shingles`
    (whose in-array hash runs interpreted per element)."""
    return distinct_grams_from_tok(tokens(text_col), n)


def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct hashed n-gram token shingles (array<long>).

    Token n-grams joined with a space, hashed with the portable 60-bit
    hash so SQL oracles can reproduce them. The in-array hash is the
    interpreted HOF path — right for array-shaped consumers (minhash
    signatures); exploding consumers should use
    :func:`exploded_shingles` / :func:`distinct_grams` instead.
    """
    return F.transform(distinct_grams(text_col, n), lambda g: _hash_expr(g))


def _hash_expr(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exploded_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, shingle-hash) posting rows — the exploded twin of
    :func:`shingles` for consumers that flatten anyway (inverted
    indexes, decontamination joins). The hash runs AFTER the explode
    as a codegen'd projection: lambda bodies inside higher-order
    functions are evaluated interpreted per element, measured ~5x
    slower for identical output (see ngram_jaccard_pairs), so only
    array-shaped consumers (minhash) pay that path."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.explode(distinct_grams(text_col, n)).alias("g"),
    ).select("doc", _hash_expr(F.col("g")).alias("s"))


def exploded_shingles_from_tok(
    docs: DataFrame, id_col: str, tok_col: str, n: int = 3
) -> DataFrame:
    """:func:`exploded_shingles` for frames that already carry the
    token array — identical output (same gram join, same distinct,
    same post-explode hash) without re-running the tokenize regex,
    which is the dominant projection cost wherever a pipeline has
    already tokenized the corpus once (the curation manifests' pinned
    ``t``)."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.explode(distinct_grams_from_tok(F.col(tok_col), n)).alias("g"),
    ).select("doc", _hash_expr(F.col("g")).alias("s"))


def minhash_signature(shingle_col: Column, k: int, seed: int = 7) -> Column:
    """Array of k min-hash values (null-safe: empty shingle set → all
    MINHASH_EMPTY sentinels). Pure column expressions over a shingle
    ARRAY — the readable spec twin of ``_minhash_base``'s exploded
    aggregate, parity-pinned in tests/test_corpus_mix.py; the
    pipelines run the aggregate form (the array transform's lambda
    body evaluates interpreted per element, ~4x slower)."""
    # NB: salt must be captured via a closure factory, NOT a default
    # parameter — pyspark creates a lambda variable for EVERY declared
    # parameter, so `lambda x, i=i` would receive the array index as i.
    def salted(i: int):
        return lambda x: _hash_expr(
            F.concat_ws("_", F.lit(f"{seed}_{i}"), x.cast("string"))
        )

    mins = [
        F.coalesce(
            F.array_min(F.transform(shingle_col, salted(i))),
            F.lit(MINHASH_EMPTY),
        )
        for i in range(k)
    ]
    return F.array(*mins)


def lsh_band_keys(sig_col: Column, bands: int, rows_per_band: int) -> Column:
    """Array of band bucket keys: hash of (band_index, the band's
    signature slice). array<long>."""
    keys = []
    for b in range(bands):
        band = F.slice(sig_col, b * rows_per_band + 1, rows_per_band)
        keys.append(
            _hash_expr(F.concat_ws("_", F.lit(str(b)), F.concat_ws("_", F.transform(band, lambda x: x.cast("string")))))
        )
    return F.array(*keys)


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 50,
    tok_col: str | None = None,
) -> DataFrame:
    """All near-duplicate pairs (id_a < id_b, jaccard >= threshold) via
    an inverted shingle index. ``max_df`` removes stop-shingles (df >
    max_df) from the shingle space entirely — exactly like dropping
    stop-words before similarity — which bounds the candidate fan-out
    to ≤ max_df²/2 pairs per shingle.

    Shape (r12 rewrite, guide §2.3/§2.4 — shuffle the posting list
    ONCE, remove the self-join): the posting rows aggregate by shingle
    into a sorted doc array (groups capped at ``max_df`` — the df cap
    is the array-size filter, no separate df aggregate or re-join),
    and candidate pairs explode from in-group combinations, so the
    pair intersection is one groupBy count over the combos. The old
    inverted-index SELF-join exchanged the filtered posting list
    TWICE (x/y sides) after a df aggregate and a broadcast size
    attach — 5 posting-volume stages collapse to 2 (agg + pair agg),
    measured 2.17 → 1.31 s at sf0.1 with bit-identical pairs. The
    in-group combination transform is an interpreted HOF, but it runs
    over ≤ max_df-element arrays post-shuffle and emits exactly the
    rows the self-join produced.

    |A|/|B| sizes re-derive from the capped index (one explode +
    count keyed by doc) and attach AFTER the pair aggregate via a
    broadcast join — one long per doc; if sizes ever outgrew
    broadcast, pre-bucket pairs and sizes by doc instead. (The old
    size-ratio PREfilter died with the self-join: it only ever
    trimmed within ≤ max_df groups, and the jaccard >= threshold
    filter subsumes it — with |A| <= |B|, jaccard <= |A|/|B|, so every
    pair it dropped is dropped here too.)"""
    # The md5 runs AFTER the explode, not inside the shingle transform:
    # lambda bodies in higher-order functions are evaluated interpreted
    # per element, while the post-explode projection is whole-stage
    # codegen'd — measured 5x faster at sf0.1 for identical output
    # (distinct on gram strings == distinct on their hashes).
    # ``tok_col``: callers that already tokenized (the curation
    # manifests' pinned frames) pass their token-array column and skip
    # the tokenize regex here — identical grams, same post-explode
    # hash (exploded_shingles_from_tok). Exactly one input column form
    # must be named: passing text_col on a tok-only frame (or both)
    # was accepted-and-ignored before, which hid real column mistakes.
    if (text_col is None) == (tok_col is None):
        raise ValueError("pass exactly one of text_col / tok_col")
    docs = spread_for_compute(docs)
    if tok_col is not None:
        posting = exploded_shingles_from_tok(docs, id_col, tok_col, n)
    else:
        posting = exploded_shingles(docs, id_col, text_col, n)
    # persist the CAPPED inverted index: it feeds the sizes aggregate
    # and the combo explode; at 100 TB this is the materialized
    # inverted-index table stage (arrays bounded by max_df elements).
    by_s = pin(
        posting.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") <= max_df)
    )
    sizes = by_s.select(F.explode("ds").alias("doc")).groupBy("doc").agg(
        F.count(F.lit(1)).alias("sz")
    )
    # sorted array ⇒ every emitted struct already satisfies a < b
    combos = by_s.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.transform(
                        F.slice("ds", i + 2, F.size("ds")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    inter = combos.groupBy(
        F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
    ).agg(F.count(F.lit(1)).alias("inter"))
    sz_a = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(F.broadcast(sz_a), "doc_a")
        .join(F.broadcast(sz_b), "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_base(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    seed: int,
    doc_out: str = "doc",
    sh_out: str = "sh",
) -> DataFrame:
    """(doc, shingle-set, minhash signature) computed on the EXPLODED
    posting list: each salted hash is a codegen'd projection over
    (doc, shingle-hash) rows and the per-salt minimum is a map-side-
    combined aggregate — value-identical to ``minhash_signature``
    (same salted-hash formula over the same shingle hashes; min over
    a group == min over the array) but off the interpreted
    higher-order-function path, measured ~4x faster at sf0.1. Docs
    with no shingles (< n tokens) produce no posting rows and so are
    absent — exactly the short-doc gate both callers need (their
    all-sentinel signatures would otherwise pair every short doc with
    every other)."""
    posting = exploded_shingles(spread_for_compute(docs), id_col, text_col, n)
    mins = [
        F.min(
            _hash_expr(
                F.concat_ws("_", F.lit(f"{seed}_{i}"), F.col("s").cast("string"))
            )
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    aggd = posting.groupBy("doc").agg(
        F.collect_set("s").alias(sh_out), *mins
    )
    sig = F.array(*[F.col(f"__m{i}") for i in range(num_hashes)])
    return aggd.select(F.col("doc").alias(doc_out), sh_out, sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding; candidates verified
    with exact Jaccard on the shingle sets. Scale path: candidate
    generation is a groupBy on band keys, not an all-pairs product.
    Signatures come from the exploded-posting aggregate
    (``_minhash_base``) — codegen, not interpreted HOF lambdas."""
    rows = num_hashes // bands
    base = _minhash_base(docs, id_col, text_col, n, num_hashes, seed)
    banded = base.select(
        "doc", "sh", F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk")
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "bk")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.sh").alias("sh_a"),
            F.col("y.sh").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def minhash_incremental_pairs(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
) -> DataFrame:
    """Incremental near-dup: flag INCOMING docs that near-duplicate the
    EXISTING corpus — the production ingest shape (every new crawl
    batch dedupes against the already-curated corpus, not against
    itself). Asymmetric LSH: both sides band with the same signature
    salts, incoming bands probe the existing bands in an equi-join
    (at 100 TB the existing side is a precomputed banded index TABLE
    that persists across batches — only the incoming batch computes
    signatures per run), candidates verify with exact Jaccard.
    Linear in |incoming| per batch, never |corpus|².

    Returns (incoming_id, existing_id, jaccard >= threshold)."""
    rows = num_hashes // bands

    def banded(df: DataFrame, out: str) -> DataFrame:
        # _minhash_base's posting aggregate drops docs too short to
        # shingle (< n tokens) by construction — without that gate
        # every short doc shares the all-sentinel band keys with every
        # other and the band join emits |short-incoming| ×
        # |short-existing| candidates that only die at jaccard 0.0,
        # breaking the linear-in-|incoming| claim for the short-doc
        # crowd common in crawl batches.
        base = _minhash_base(
            df, id_col, text_col, n, num_hashes, seed,
            doc_out=out, sh_out=f"__sh_{out}",
        )
        return base.select(
            out,
            f"__sh_{out}",
            F.explode(lsh_band_keys(F.col("sig"), bands, rows)).alias("bk"),
        )

    inc = banded(incoming, "incoming_id")
    ex = banded(existing, "existing_id")
    cand = (
        inc.join(ex, "bk")
        .dropDuplicates(["incoming_id", "existing_id"])
        .select(
            "incoming_id",
            "existing_id",
            F.round(
                jaccard(F.col("__sh_incoming_id"), F.col("__sh_existing_id")), 6
            ).alias("jaccard"),
        )
    )
    return cand.filter(F.col("jaccard") >= threshold)


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    chunk_bits: int = 15,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, blocked on
    fingerprint chunks (pigeonhole: any pair within ``max_hamming`` of
    each other shares at least one of bits//chunk_bits chunks when
    max_hamming < n_chunks — so candidate generation is a groupBy on
    chunk keys, never all-pairs)."""
    n_chunks = bits // chunk_bits
    mask = (1 << chunk_bits) - 1
    base = _simhash_base(docs, id_col, text_col, bits)
    chunk_keys = F.array(
        *[
            F.shiftright(F.col("fp"), i * chunk_bits).bitwiseAND(F.lit(mask))
            + F.lit(i * (mask + 1))
            for i in range(n_chunks)
        ]
    )
    keyed = base.select("doc", "fp", F.explode(chunk_keys).alias("ck"))
    cand = (
        keyed.alias("x")
        .join(keyed.alias("y"), "ck")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.fp").alias("fp_a"),
            F.col("y.fp").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_base(
    docs: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """(doc, simhash fingerprint) computed on the EXPLODED token
    stream: the 60 per-bit votes are conditional-sum aggregates in ONE
    map-side-combined groupBy — value-identical to :func:`simhash`
    (integer vote sums are order-independent; same bit test, same
    packing) but off the interpreted per-bit array folds, same rewrite
    as ``_minhash_base``. Docs with no tokens keep fp = 0 (the fold's
    value over an empty array) via the left re-join — identical
    fingerprints among empty docs are real simhash semantics the
    oracle reproduces, so they must not silently drop."""
    docs = spread_for_compute(docs)
    ids = docs.select(F.col(id_col).alias("doc"))
    th = docs.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("t")
    ).select("doc", _hash_expr(F.col("t")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b) % 2 == 1, 1).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    agg = th.groupBy("doc").agg(*votes)
    fp = None
    for b in range(bits):
        term = (
            F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fp = term if fp is None else fp + term
    fped = agg.select("doc", fp.alias("fp"))
    return ids.join(fped, "doc", "left").select(
        "doc", F.coalesce("fp", F.lit(0).cast("long")).alias("fp")
    )


def simhash(text_col: str, bits: int = 60) -> Column:
    """SimHash fingerprint over token hashes: bit b of the output is 1
    iff sum over tokens of (+1 if bit b of token-hash set else -1) > 0.
    Pure column expressions; 60 bits keeps everything in signed longs.
    The readable spec twin of ``_simhash_base``'s exploded aggregate
    (which the pipeline runs — per-bit array folds evaluate
    interpreted per element); parity-pinned in tests/test_corpus_mix.py."""
    tok = tokens(text_col)
    th = F.transform(tok, lambda t: _hash_expr(t))

    # closure factory, not a default param (see minhash_signature note)
    def voter(b: int):
        return lambda s, x: s + F.when(
            F.shiftright(x, b) % 2 == 1, 1
        ).otherwise(-1)

    acc = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(th, F.lit(0).cast("long"), voter(b))
        acc = acc + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return acc


def connected_components(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
    driver_max_edges: int = 500_000,
) -> DataFrame:
    """Connected components over an undirected pair list — the step
    that turns near-duplicate PAIRS into dedup CLUSTERS (each doc
    labeled with the min id reachable from it, the cluster canonical).

    Min-label propagation with pointer jumping: each round every node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path halving), so convergence is O(log diameter)
    rounds rather than O(diameter). Near-dup graphs have tiny
    diameters (components are quasi-cliques), so this typically fixes
    in 2-3 rounds; at adversarial diameters the alternating-star
    variant is the drop-in upgrade. Per round: one groupBy on node id
    plus one self-join on label — all (long, long) shuffles, state
    bounded by node count. ``localCheckpoint`` cuts lineage so the
    plan doesn't grow with iterations.

    Returns (id, component) — component = min id in the component.

    Small-graph fast path: near-dup edge lists are usually MUCH
    smaller than the corpus (pairs ≈ true duplicates, not documents),
    and the iterative loop pays 2 driver actions per round of pure
    scheduling. Below ``driver_max_edges`` symmetrized edges a
    union-find on the driver computes the identical min-label result
    in one Arrow fetch. Driver-memory accounting is for the PYTHON
    materialization, not the raw payload: 500k edges is ~8 MB of
    Arrow/numpy plus ~100 MB of Python ints + union-find dicts —
    bounded, but ~20× the (long,long) bytes, which is why the default
    budget is conservative; the pure-Python pass itself costs ~0.5 s
    at the budget, on par with one distributed round's scheduling.
    Honest accounting at sf0.1 (cache-isolated A/B): the manifest
    graph converges in 1-2 rounds, so the saving there is only
    ~0.3-0.5 s — the edge-list materialization dominates either way;
    the path pays off on graphs needing more rounds (longer chains),
    and the distributed loop remains for graphs that outgrow the
    budget. Parity between the two paths is pinned in
    tests/test_corpus_mix.py.

    NULL ids (a nullable join key upstream) are dropped from the edge
    list: a null node is no node, and both paths must agree on that
    (the driver union-find would otherwise crash on int(None) while
    the distributed joins silently dropped the rows).
    """
    # materialize the symmetrized edge list ONCE: every iteration's
    # neighbor join references `edges`, and without the checkpoint each
    # round re-evaluates the (potentially expensive) pair-generation
    # plan upstream — measured ~1.5 s/round on the manifest chain
    edges = (
        pairs.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(
            pairs.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
            .select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    if edges.count() <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        # one Arrow toPandas + tolist, not collect(): Row objects cost
        # ~100 B each where the Arrow path moves two numpy columns and
        # materializes plain ints; the frame is count-gated
        # ≤ driver_max_edges so the fetch is bounded by construction
        pdf = edges.toPandas()
        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        roots: dict[int, int] = {}
        for node in parent:
            r = find(node)
            roots[r] = min(roots.get(r, node), node)
        out = [(node, roots[find(node)]) for node in parent]
        import pandas as pd

        return pairs.sparkSession.createDataFrame(
            pd.DataFrame(out, columns=["id", "component"]),
            "id LONG, component LONG",
        )
    lab = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lab", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # min over self + neighbor labels
        neigh = (
            edges.join(lab.withColumnRenamed("id", "b_id"),
                       edges["b"] == F.col("b_id"))
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("lab").alias("nlab"))
        )
        stepped = (
            lab.join(neigh, "id", "left")
            .select("id", F.least("lab", F.coalesce("nlab", "lab")).alias("lab"))
        )
        # pointer jump: lab <- label-of-label (labels are node ids)
        jump = (
            stepped.join(
                stepped.select(
                    F.col("id").alias("lid"), F.col("lab").alias("llab")
                ),
                stepped["lab"] == F.col("lid"),
                "left",
            )
            .select("id", F.least("lab", F.coalesce("llab", "lab")).alias("lab"))
            .localCheckpoint()
        )
        changed = (
            jump.join(lab.withColumnRenamed("lab", "old"), "id")
            .filter(F.col("lab") != F.col("old"))
            .limit(1)
            .count()
        )
        lab = jump
        if changed == 0:
            break
    return lab.select(F.col("id"), F.col("lab").alias("component"))
