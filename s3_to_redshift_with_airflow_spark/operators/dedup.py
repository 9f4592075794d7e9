"""Deduplication operators for large-scale document corpora.

The reference's dedup surface is pandas `drop_duplicates` (reference:
dags/etl/extract_metadata.py:120, extract_stream_data.py:206 — D1/D2). This
module keeps those (see operators/relational.py) and adds the corpus-scale
family mandated for LLM training-data pipelines:

  - exact_dedup_by_fingerprint: hash-groupBy on the normalized-content md5 —
    one shuffle on a 128-bit key; the canonical first pass at any scale.
  - ngram_jaccard_pairs: exact pairwise Jaccard over token-shingle sets —
    the O(N²) oracle; correct but only for modest N or within blocks.
  - minhash_lsh_pairs: MinHash signatures + banded LSH (Broder 1997 /
    Leskovec-Rajaraman-Ullman ch.3) with exact-Jaccard verification of
    candidates. The scale path: cost ~ O(N·H) + collisions instead of O(N²).
  - simhash64: Charikar-2002 64-bit fingerprints + hamming-banded near-dup
    pairs (pigeonhole on 16-bit chunks).

Everything is expressed with built-in functions (xxhash64, explode,
groupBy-join); no Python UDFs, so plans stay in whole-stage codegen.

Determinism: all hash families are seeded xxhash64 (simhash: md5 nibbles,
for exact SQL-oracle replicability) — stable across runs, partitionings,
and cluster sizes. LSH candidate sets are hash-determined;
final outputs are exact-verified (threshold on true Jaccard / hamming), so
results are reproducible (approximate only in recall, never in precision).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text import fingerprint, token_shingles


def exact_dedup_by_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact near-identical dedup: group by normalized-content fingerprint,
    keep the smallest id as canonical. Returns (fingerprint, canonical_id,
    n_copies) — join back on fingerprint to filter the corpus."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    from ..functions.text import token_shingles
    from .skew import fan_out

    # token_shingles let-binds the token array (`bind1`), so the tokenize
    # pass runs exactly once per row — a two-step select does NOT achieve
    # that (CollapseProject re-inlines it into the per-shingle lambda;
    # measured 4.64 s → 0.56 s on this pass at sf0.1).
    return fan_out(df).select(
        F.col(id_col), token_shingles(F.col(text_col), n).alias("shingles")
    ).filter(F.size("shingles") > 0)


# Persisted shingle frames are consumed lazily by the returned plan, so the
# builder can't unpersist before its caller executes. Instead each new call
# releases the previous call's blocks (residency bounded to ONE shingled
# frame per session no matter how many dedup queries run back-to-back), and
# release_shingle_cache() frees the last one explicitly.
_SHINGLE_CACHE: list[DataFrame] = []


def release_shingle_cache() -> None:
    """Unpersist any shingled frame still cached by a prior dedup call."""
    while _SHINGLE_CACHE:
        _SHINGLE_CACHE.pop().unpersist()


def _persist_shingled(sh: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    release_shingle_cache()
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    _SHINGLE_CACHE.append(sh)
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard similarity, pairs above threshold —
    without the naive N² cross join.

    Candidate generation is the AllPairs/PPJoin prefix filter (Bayardo,
    Ma & Srikant, WWW'07; Xiao et al., WWW'08 — public algorithms): order
    each document's shingle set by ascending global document frequency
    (rarest first); a pair can reach Jaccard ≥ t only if the two documents
    share a shingle inside their first |X| - ceil(t·|X|) + 1 shingles under
    that canonical order. So only prefix posting lists are joined, and hot
    shingles (which land at the end of the order) never generate candidates.
    Survivors are verified with the exact set intersection.

    At scale: cost goes from O(N²) to O(Σ prefix-collisions); the heaviest
    shuffle keys by shingle, with frequency-ascending prefixes keeping
    posting lists short. |A∪B| = |A|+|B|-|A∩B| over distinct shingle sets,
    so only array_intersect is needed (array_union semantics differ between
    engines). Output is identical to the brute-force definition.
    """
    # The shingled frame feeds four plan branches (postings, sizes, and both
    # verification sides); persist it so tokenization runs once, not four
    # times. MEMORY_AND_DISK: shingle sets are ~text-sized, spill is fine.
    # (At 100 TB you'd stage this to parquet instead — one tokenize pass.)
    sh = _persist_shingled(_shingled(df, id_col, text_col, n))
    posts = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    freq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # canonical order: (df asc, shingle asc); prefix keeps the rarest tokens
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("shingle").asc())
    sized = posts.join(freq, "shingle").withColumn("rnk", F.row_number().over(w))
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + F.lit(1)
    )
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    prefixes = (
        sized.join(sizes, id_col)
        .filter(F.col("rnk") <= prefix_len)
        .select(id_col, "shingle")
    )
    cands = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), "shingle")
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _signatures_from_shingled(
    sh: DataFrame, id_col: str, num_hashes: int, seed: int
) -> DataFrame:
    # Hash each shingle STRING once (the expensive variable-length hash),
    # then derive the num_hashes family members by re-hashing the resulting
    # 64-bit long — an 8-byte fixed-width hash, ~3× cheaper per function
    # than re-hashing the string num_hashes times. Standard one-hash MinHash
    # construction; the family is still pairwise-independent enough for LSH
    # banding, and candidate misses are caught nowhere (outputs are
    # exact-Jaccard verified downstream).
    # The string-hash array is let-bound (the text.bind1 idiom, spelled
    # inline): a two-step select would be collapsed and the
    # transform(shingles, xxhash64) subtree re-inlined into all num_hashes
    # family lambdas — num_hashes string-hash passes instead of one.
    # Built as ONE expr string: the F.array(*[...]) spelling creates
    # num_hashes HOF lambdas through py4j (~16 ms each — ~1 s of pure
    # driver/socket time per plan build at 64 hashes, measured via
    # cProfile); the parsed string resolves to the identical tree.
    # Literals: `seed + i` is an int32 literal in both spellings, and SQL
    # xxhash64 carries the same built-in seed (42) as F.xxhash64.
    family = ",".join(
        f"array_min(transform(h64, h -> xxhash64({seed + i}, h)))"
        for i in range(num_hashes)
    )
    sig = F.expr(
        "get(transform(array(transform(shingles, s -> xxhash64(s))),"
        f" h64 -> array({family})), 0)"
    )
    return sh.select(F.col(id_col), sig.alias("sig"))


def minhash_band_keys(
    sigs: DataFrame, id_col: str, n_bands: int, r: int
) -> DataFrame:
    """Explode a signature frame to (id, band, key) rows — band key = 64-bit
    hash of the band's r signature slots. Shared by the symmetric self-join
    (minhash_lsh_pairs) and one-sided incremental joins (new batch × corpus
    index): band keys are a pure function of the document, so an incoming
    batch's keys can be joined against a PERSISTED corpus band table without
    recomputing the corpus."""
    # one parsed expr (same resolved tree as the F.array(*[F.struct(...)])
    # spelling, without its ~n_bands×8 py4j round-trips per plan build)
    bands = ",".join(
        "struct({i} as band, xxhash64({slots}) as key)".format(
            i=i, slots=",".join(f"sig[{i * r + j}]" for j in range(r))
        )
        for i in range(n_bands)
    )
    return sigs.select(
        F.col(id_col), F.expr(f"explode(array({bands}))").alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    n_bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + exact-Jaccard verification.

    rows-per-band r = num_hashes/n_bands; candidate pairs share ≥1 band
    (P[candidate] = 1-(1-j^r)^b — with r=2,b=32 a j=0.8 pair is missed with
    probability (1-0.64)^32 ≈ 5e-15). Candidates are then verified with the
    exact Jaccard, so precision is 1.0 by construction.

    Plan shape at scale: signatures (map-side) → explode bands (×b) →
    self-join on (band, band-hash) → dedup pairs → verify. The join key is
    a 64-bit hash of the band slice; skew only on pathological corpora
    (all-identical docs) — AQE skew split applies.
    """
    r = num_hashes // n_bands
    # one tokenize pass feeds both the signature path and the verification
    # arrays (same rationale as in ngram_jaccard_pairs)
    sh0 = _persist_shingled(_shingled(df, id_col, text_col, n))
    sigs = _signatures_from_shingled(sh0, id_col, num_hashes, seed)
    # persist the band keys: the self-join below projects `bands` twice and
    # the two sides canonicalize differently, so without this the 64-hash
    # signature computation runs once PER SIDE. The frame is tiny
    # (n_docs × n_bands rows of three scalars) — the in-memory band index.
    bands = minhash_band_keys(sigs, id_col, n_bands, r).persist()

    left = bands.select(F.col(id_col).alias("id_a"), "band", "key")
    right = bands.select(F.col(id_col).alias("id_b"), "band", "key")
    cands = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    a = sh0.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh0.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def cross_corpus_ngram_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Train/eval decontamination: per (eval doc, train doc) pair, the count
    of shared token n-grams and the fraction of the eval doc's distinct
    n-grams found in that train doc — the standard benchmark-contamination
    check an LLM data pipeline runs before training (eval sets must not leak
    into pretraining data).

    Plan: both corpora shingle map-side, explode to (doc, gram) postings,
    one equi-join on the gram, one aggregate per pair. Cost is O(posting
    collisions): at n≥5 natural-text gram frequencies decay fast enough
    that posting lists stay short; for adversarial corpora cap the train-side
    document frequency (drop grams with df > K) before the join — boilerplate
    grams only ever produce false contamination anyway.

    Returns (eval_doc_id, train_doc_id, shared_ngrams, contamination) with
    contamination = shared / |eval doc's distinct n-grams|.
    """
    tr = _shingled(train, id_col, text_col, n).select(
        F.col(id_col).alias("train_doc_id"), F.explode("shingles").alias("g")
    )
    ev = _shingled(eval_df, id_col, text_col, n).select(
        F.col(id_col).alias("eval_doc_id"),
        F.size("shingles").alias("__n_sh"),
        F.explode("shingles").alias("g"),
    )
    return (
        ev.join(tr, "g")
        .groupBy("eval_doc_id", "train_doc_id")
        .agg(
            F.count(F.lit(1)).alias("shared_ngrams"),
            (F.count(F.lit(1)).cast("double") / F.max("__n_sh").cast("double")).alias(
                "contamination"
            ),
        )
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 1
) -> DataFrame:
    """64-bit SimHash fingerprint per document (Charikar 2002): per bit,
    majority vote of token-hash bits. Returns (id, simhash long).

    The per-token hash is the first 64 bits of md5(token), read as 16 hex
    nibbles (bit i = bit i%4 of nibble i//4). md5 is available and
    bit-identical in every engine (unlike xxhash64), so the whole simhash —
    and therefore the near-dup pair set — is replicable as an exact ANSI-SQL
    oracle; hash quality is equivalent for the majority vote.

    Expressed as one aggregation over exploded tokens: 64 conditional sums
    (+1/-1 per bit) then bit assembly — single shuffle on the id."""
    toks = df.select(
        F.col(id_col),
        F.explode(token_shingles(F.col(text_col), n)).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    # nibble ci = value of hex char ci+1 of md5 (0..15)
    toks = toks.select(
        F.col(id_col),
        *[
            F.expr(
                f"instr('0123456789abcdef', substring(h, {ci + 1}, 1)) - 1"
            ).alias(f"d{ci}")
            for ci in range(16)
        ],
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"d{i // 4}"), i % 4).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Blocking by pigeonhole: distance ≤ 3 ⇒ at least one of the four 16-bit
    chunks is equal, so candidates join on (chunk_index, chunk_value) —
    never the full cross product. Exact hamming verifies candidates."""
    sigs = simhash64(df, id_col, text_col)
    chunks = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk", "ck.val")
    left = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "chunk", "val"
    )
    right = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "chunk", "val"
    )
    return (
        left.join(right, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Corpus-level paragraph dedup (the CCNet/RefinedWeb line-dedup pass):
    segment every document, drop every segment whose text appears earlier in
    the corpus (first occurrence by (id, position) survives), reassemble the
    survivors in document order. Output: (id, clean_text, kept_chunks,
    dropped_chunks) — one row per input document, even when every segment of
    a document was dropped.

    At web scale the segmenter is a newline split; the synthetic corpus has
    no newlines, so segments are fixed non-overlapping `chunk_tokens`-token
    windows over the normalized token stream (stated substitution — the plan
    is identical, only the split expression differs).

    Scale plan: segments explode ~(len/chunk_tokens)× the corpus, then ONE
    shuffle picks survivors (min-struct aggregate, no window over the full
    explode), one join back on the same key, and the reassembly groupBy
    shuffles on the document id. The survivor-selection shuffle keys on a
    128-bit compound hash of the segment — (xxhash64(chunk),
    xxhash64(1, chunk)) — NOT the raw segment text, so shuffle keys are 16
    bytes regardless of paragraph length. Two independent 64-bit hashes give
    a pairwise collision probability < N²/2^129 — the same guarantee class
    as exact_dedup_by_fingerprint's md5 key (scale-safe per the md5
    birthday bound); a collision would need ~2^64 distinct segments to
    become likely, far beyond a 100 TB corpus. All built-in expressions
    (split/slice/posexplode/array_sort) — whole-stage codegen end to end.
    """
    from ..functions.text import bind1, tokens as _tokens
    from .skew import fan_out

    df = fan_out(df)

    # The token array is let-bound (`bind1`) so the tokenizer runs once per
    # row: `chunk_at` references the tokens INSIDE the per-chunk lambda, and
    # interpreted lambda bodies get no common-subexpression elimination — a
    # captured tokenize expression re-runs per chunk (O(len²/chunk_tokens)
    # regexp work per row; same trap token_shingles documents).
    def _chunks(toks: F.Column) -> F.Column:
        n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
        chunk_at = lambda i: F.array_join(  # noqa: E731
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        )
        return F.when(
            F.size(toks) <= 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(F.sequence(F.lit(0), n_chunks - F.lit(1)), chunk_at)
        )

    chunks_arr = bind1(_tokens(F.col(text_col)), _chunks)
    ex = df.select(
        F.col(id_col), F.posexplode(chunks_arr).alias("pos", "chunk")
    ).select(
        id_col,
        "pos",
        "chunk",
        F.xxhash64("chunk").alias("__ck1"),
        F.xxhash64(F.lit(1), F.col("chunk")).alias("__ck2"),
    )
    keeper = ex.groupBy("__ck1", "__ck2").agg(
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias(
            "keep"
        )
    )
    kept = (
        ex.join(keeper, ["__ck1", "__ck2"])
        .filter((F.col("keep.kid") == F.col(id_col)) & (F.col("keep.kpos") == F.col("pos")))
        .select(id_col, "pos", "chunk")
    )
    totals = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__total"))
    kept_agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
            lambda s: s.chunk,
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_chunks"),
    )
    return totals.join(kept_agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("kept_chunks"), F.lit(0)).cast("bigint").alias("kept_chunks"),
        (F.col("__total") - F.coalesce(F.col("kept_chunks"), F.lit(0)))
        .cast("bigint")
        .alias("dropped_chunks"),
    )


def minhash_lsh_incremental(
    df: DataFrame,
    incoming_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    n_bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """One-sided incremental near-dup: which rows satisfying `incoming_pred`
    (the new batch) duplicate the REST of `df` (the existing corpus).

    The candidate join is incoming × corpus only — never corpus × corpus —
    so cost is O(batch band collisions); candidates are exact-Jaccard
    verified like minhash_lsh_pairs. At production scale the corpus side of
    the band join is a persisted, bucketed index (band keys are a pure
    function of the document — see minhash_band_keys), and each batch joins
    against it without recomputing the corpus.

    Returns (incoming_id, corpus_id, jaccard) for pairs with
    jaccard >= threshold.

    Rows where `incoming_pred` evaluates to NULL are treated as corpus rows
    (the predicate is coalesced to FALSE), so every row lands
    deterministically on exactly one side of the split.
    """
    r = num_hashes // n_bands
    sh0 = _persist_shingled(_shingled(df, id_col, text_col, n))
    sigs = _signatures_from_shingled(sh0, id_col, num_hashes, seed)
    bands = minhash_band_keys(sigs, id_col, n_bands, r)
    is_incoming = F.coalesce(incoming_pred, F.lit(False))
    inc = bands.filter(is_incoming).select(
        F.col(id_col).alias("incoming_id"), "band", "key"
    )
    corp = bands.filter(~is_incoming).select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    cands = (
        inc.join(corp, ["band", "key"]).select("incoming_id", "corpus_id").distinct()
    )
    a = sh0.select(
        F.col(id_col).alias("incoming_id"), F.col("shingles").alias("sh_a")
    )
    b = sh0.select(
        F.col(id_col).alias("corpus_id"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cands.join(a, "incoming_id")
        .join(b, "corpus_id")
        .select("incoming_id", "corpus_id", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def repeated_window_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 10,
    stride: int = 1,
) -> DataFrame:
    """Cross-document repeated-span detection — the signal behind
    ExactSubstr-style dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": cut spans that occur verbatim in more
    than one document). A true distributed suffix array is not
    Spark-expressible; dense w-token windows (w-gram shingles, stride 1)
    are the standard approximation: a verbatim clone of ≥ w tokens shares
    at least one full window REGARDLESS of its alignment in each document,
    so recall on long clones is exactly 1 and only sub-w repeats are
    missed — the honest trade documented here. stride > 1 is offered ONLY
    for same-alignment uses (e.g. self-comparison of one layout): two
    documents' stride grids generally have different phases, so a clone
    can straddle both grids and a strided cross-doc scan has NO recall
    guarantee (a unit test pins the stride-1 guarantee instead).

    Returns (id, n_windows, n_repeated, repeated_fraction) per document
    with ≥ 1 window (shorter docs have no w-token window to test);
    repeated_fraction = n_repeated/n_windows, the per-doc duplication
    score a curation pipeline thresholds on.

    Scale plan: windows explode ~len× the corpus at stride 1, but each
    window is immediately md5-fingerprinted and the text dropped, so the
    cross-doc frequency shuffle keys on 128-bit hashes (same discipline
    as chunk_dedup); one groupBy(fp) for distinct-doc counts, one join
    back, one groupBy(doc). No window function over the explode."""
    from ..functions.text import bind1, tokens

    if window_tokens <= 0 or stride <= 0 or stride > window_tokens:
        raise ValueError("need 0 < stride <= window_tokens")

    # Let-bind the token array (`bind1`): the window lambda slices the
    # tokens per start position, and a captured tokenize expression would
    # re-run per window (interpreted lambdas get no CSE — O(len²) regexp
    # work per row; the token_shingles trap).
    def _windows(toks: F.Column) -> F.Column:
        starts = F.when(
            F.size(toks) >= window_tokens,
            F.sequence(
                F.lit(1), F.size(toks) - window_tokens + 1, F.lit(stride)
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda st: F.concat_ws(" ", F.slice(toks, st, window_tokens)),
        )

    win = (
        df.select(
            F.col(id_col),
            F.explode(bind1(tokens(F.col(text_col)), _windows)).alias("__w"),
        )
        .select(F.col(id_col), F.md5(F.col("__w")).alias("fp"))
    )
    freq = win.groupBy("fp").agg(
        F.count_distinct(F.col(id_col)).alias("__docs")
    )
    return (
        win.join(freq, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("__docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_repeated"),
        )
        .withColumn(
            "repeated_fraction",
            F.col("n_repeated").cast("double") / F.col("n_windows").cast("double"),
        )
    )


def containment_candidates(
    sh: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for containment_pairs' exact verify:
    the asymmetric prefix filter over a shingled frame (id_col, shingles).
    The prefix length uses the exact integer ceil(t·n) = (t_num·n + t_den
    − 1) div t_den under the global frequency-ascending canonical order;
    with max_df set, shingles with df > max_df are dropped from the join
    (both sides — the recall trade containment_pairs documents). Exposed
    separately so tools/containment_cap_report.py can measure the
    candidate-volume reduction the cap buys."""
    posts = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    freq = posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("shingle").asc())
    sized = posts.join(freq, "shingle").withColumn("rnk", F.row_number().over(w))
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    prefix_len = (
        F.col("n_sh")
        - F.expr(f"({t_num}L * n_sh + {t_den - 1}L) div {t_den}L")
        + F.lit(1)
    )
    prefixes = (
        sized.join(sizes, id_col)
        .filter(F.col("rnk") <= prefix_len)
        .select(id_col, "shingle")
    )
    join_posts = posts
    if max_df is not None:
        keep = freq.filter(F.col("df") <= max_df).select("shingle")
        join_posts = posts.join(keep, "shingle", "left_semi")
        prefixes = prefixes.join(keep, "shingle", "left_semi")
    # Pin the dedup exchange's partition count: the stage ABOVE it is
    # compute-dense (downstream array_intersect verify lands in it) but
    # byte-light, so AQE's byte-based coalescing would serialize it onto
    # a couple of tasks (measured two ~1 s 5-task jobs at sf0.1 with 32
    # cores idle). A user-specified repartition on the SAME keys as the
    # dropDuplicates satisfies its clustering requirement (no second
    # exchange) and is exempt from AQE coalescing; the count is the
    # session's scale knob, not a local constant.
    n_part = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        prefixes.alias("a")
        .join(join_posts.alias("b"), "shingle")
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .repartition(n_part, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard CONTAINMENT C(A,B) = |A∩B| / |A|,
    ordered pairs above threshold — the asymmetric complement of
    ngram_jaccard_pairs. Containment catches "A is mostly inside B"
    (a quoted article inside an aggregator page, a doc re-posted with a
    long appendix) where symmetric Jaccard is diluted by the size gap:
    |A|=100 fully inside |B|=1000 has C=1.0 but J≈0.1, invisible to every
    symmetric near-dup operator at any useful threshold.

    Candidate generation is the asymmetric prefix filter (same family as
    AllPairs/PPJoin, Bayardo et al. WWW'07): C(A,B) ≥ t needs
    |A∩B| ≥ ceil(t·|A|), so B must hit one of A's first
    |A| - ceil(t·|A|) + 1 shingles under the global frequency-ascending
    canonical order. Only A-prefixes join — but against B's FULL posting
    lists (containment puts no constraint on |B|, so the B side cannot be
    prefix-pruned; that is inherent to the predicate, not a plan choice).
    The canonical order keeps prefixes on the RAREST shingles, so the
    posting lists actually joined stay short. Survivors are verified with
    the exact set intersection; output equals the brute-force definition.

    At scale: one shingle-keyed shuffle for postings/frequencies, one
    prefix⋈postings join on rare keys, one exact verify join on id pairs.
    Both directions of a mutual near-dup pair emit (the relation is not
    symmetric); downstream dedup keeps the larger container via a
    (n_a, id) argmax, same survivor discipline as dedup_survivor.

    Threshold arithmetic is EXACT-INTEGER end to end (ADVICE r5): the
    float threshold is canonicalized to a rational t_num/t_den
    (Fraction(threshold).limit_denominator(10**6) — exact for every
    "round" threshold like 0.8 → 4/5), the prefix length uses the exact
    integer ceil ceil(t·n) = (t_num·n + t_den - 1) div t_den, and the
    FINAL filter is the same integer predicate inter·t_den ≥ t_num·n_a —
    so the candidate pruning and the acceptance test can never disagree
    at a rounding boundary, for ANY caller threshold, and the output
    equals the brute-force rational definition. (The emitted
    `containment` column stays a double for readability; only the
    predicate is integer.)

    max_df (default None = exact): stop-shingle cap for the one side the
    prefix filter cannot prune. Containment puts no constraint on |B|,
    so B's FULL posting lists join against A-prefixes — on a corpus with
    boilerplate hot shingles those lists dominate the candidate count.
    With max_df set, shingles whose document frequency exceeds it are
    dropped from the candidate-generation join (BOTH sides — A-prefix
    rows on a dropped shingle can't match anyway). RECALL CONSEQUENCE:
    a pair whose every prefix-witness shingle is hot is missed; pairs
    found are still verified exactly (no false positives, ever). Use
    when the df histogram shows a boilerplate head; leave None for the
    exact result.
    """
    t = Fraction(threshold).limit_denominator(1_000_000)
    t_num, t_den = t.numerator, t.denominator
    sh = _persist_shingled(_shingled(df, id_col, text_col, n))
    cands = containment_candidates(sh, id_col, t_num, t_den, max_df)
    # PPJoin length filter (guide §3.2 — shrink the pair set BEFORE the
    # heavy join): C(A,B) ≥ t needs |A∩B| ≥ ceil(t·|A|) and |A∩B| ≤ |B|,
    # so n_b·t_den ≥ t_num·n_a is a NECESSARY condition — pairs failing
    # it can never pass the final integer predicate, so dropping them
    # here changes nothing. The sizes are a narrow (id, n) frame; the
    # pruning happens before the shingle ARRAYS are ever attached
    # (measured at sf0.1: 299,544 → 206,240 pairs reach the
    # array_intersect verify, 31% fewer).
    sizes = sh.select(F.col(id_col), F.size("shingles").cast("bigint").alias("__n"))
    cands = (
        cands.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("n_b")),
            "id_b",
        )
        .filter(F.col("n_b") * F.lit(t_den) >= F.lit(t_num) * F.col("n_a"))
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            F.col("n_a"),
            (inter.cast("double") / F.col("n_a").cast("double")).alias(
                "containment"
            ),
        )
        .filter(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("n_a"))
    )


def repeated_span_report(
    docs: DataFrame, w: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document repeated-SPAN detection — the exact-substring-dedup
    primitive of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499) at w-token granularity:
    every sliding window of w consecutive tokens is hashed, a window
    whose exact token sequence occurs MORE THAN ONCE anywhere in the
    corpus (another document, or the same document again) is "repeated",
    and each document reports how much of it is made of such spans —
    the signal span-level dedup trims on (boilerplate headers, license
    blocks, templated passages — the duplication document-level and
    near-dup detectors cannot see when the surrounding text differs).

    Returns (doc_id, n_spans, n_repeated, dup_ratio_bp):
      n_spans      = max(len - w + 1, 0) sliding windows;
      n_repeated   = windows whose span occurs >= 2 times corpus-wide
                     (multiplicity counts: three copies = three repeated
                     windows, matching Lee et al.'s keep-one semantics);
      dup_ratio_bp = n_repeated * 10000 div n_spans (0 for short docs).

    Plan (100 TB): tokens posexplode once; each window's span string is
    assembled with w-1 LEAD calls over the per-doc position window and
    hashed immediately (md5-int60 — engine-portable, so the whole report
    carries an exact DuckDB oracle) — span strings live only inside that
    window stage, never crossing a shuffle; repetition is decided by ONE
    COUNT window over the hash partition (no self-join, the span stream
    is computed exactly once); one final doc_id rollup. Three shuffles
    total (doc_id positions, h, doc_id), every expression whole-stage
    codegen. (A first cut built the hashes inside a higher-order
    `transform` lambda — HOF lambdas evaluate INTERPRETED per element,
    measured ~17 µs/window and recomputed per consumer: 20 s at sf0.1
    where this plan runs in ~3 s.)"""
    from pyspark.sql import Window

    from ..functions.text import tokens as _tok

    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.size(_tok(F.col(text_col))) - F.lit(w) + 1, F.lit(0))
        .cast("bigint")
        .alias("n_spans"),
    )
    spans = _span_hashes(docs, w, id_col, text_col).select("doc_id", "h")
    flagged = spans.select(
        "doc_id",
        (F.count(F.lit(1)).over(Window.partitionBy("h")) >= 2).alias("rep"),
    )
    rep = flagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("rep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeated")
    )
    return (
        per_doc.join(rep, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_repeated", F.lit(0)).cast("bigint").alias("n_repeated"),
            F.expr(
                "CASE WHEN n_spans = 0 THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(n_repeated, 0) * 10000 div n_spans END"
            ).alias("dup_ratio_bp"),
        )
    )


def repeated_span_trim(
    docs: DataFrame, w: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document repeated-span TRIM — the transform half of Lee et
    al. 2021's exact-substring dedup (arXiv:2107.06499), completing
    `repeated_span_report` (which only MEASURES): every w-token sliding
    window whose exact token sequence occurs >= 2 times corpus-wide is a
    repeated span; the FIRST occurrence in (doc_id, pos) order is kept
    and every later occurrence is removed — a token is dropped iff it is
    covered by at least one non-first repeated window. The cleaned
    corpus (whitespace re-joined surviving tokens) is what the curation
    funnel consumes: a planted boilerplate block survives exactly once,
    in the lowest-(doc_id, pos) document that carries it.

    Returns (doc_id, n_tokens, n_removed, clean_text); n_removed counts
    dropped tokens, clean_text is '' when the whole document was
    duplicated tail.

    Plan (100 TB): the span stage is `repeated_span_report`'s verbatim —
    tokens posexplode once, span strings assembled with w-1 codegen
    LEAD calls and hashed immediately (md5-int60, engine-portable:
    the whole transform carries an exact DuckDB oracle), so span
    strings never cross a shuffle. Keep-one is ONE (count, row_number)
    window over the hash partition — no self-join; the duplicate window
    STARTS (a row set bounded by the duplication volume, not the corpus)
    join back to the token stream on (doc_id, pos), and coverage is a
    w-row sliding MAX over the per-doc position order (positions are
    dense, so ROWS BETWEEN w-1 PRECEDING == the [pos-w+1, pos] range).
    The final per-doc rebuild sorts each document's surviving (pos, tok)
    pairs inside one aggregate — per-doc arrays, never a global sort.
    Shuffles: doc_id (lead windows), h (keep-one window), (doc_id, pos)
    (coverage join), doc_id (rebuild) — all key-only or token-width rows.

    The rebuild's field extraction uses a `transform` lambda (interpreted
    per element) — unlike the hashing this HOF does one struct-field read
    per kept token, not md5 work; measured harmless (contrast with the
    20 s HOF trap repeated_span_report's docstring records)."""
    from pyspark.sql import Window

    from ..functions.text import tokens as _tok

    toked = docs.select(
        F.col(id_col).alias("doc_id"), _tok(F.col(text_col)).alias("toks")
    )
    tok_pos = toked.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.posexplode("toks").alias("pos", "tok"),
    )
    spans = _span_hashes(docs, w, id_col, text_col)
    # keep-one: the first (doc_id, pos) occurrence of a repeated span is
    # the survivor; every later occurrence is a duplicate window START
    occ = Window.partitionBy("h").orderBy("doc_id", "pos")
    dup_starts = (
        spans.select(
            "doc_id",
            "pos",
            (F.count(F.lit(1)).over(Window.partitionBy("h")) >= 2).alias("rep"),
            (F.row_number().over(occ) >= 2).alias("later"),
        )
        .filter(F.col("rep") & F.col("later"))
        .select("doc_id", "pos", F.lit(True).alias("dup_start"))
    )
    cov_w = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    covered = (
        F.max(F.coalesce(F.col("dup_start"), F.lit(False)).cast("int")).over(
            cov_w
        )
        == 1
    )
    kept = (
        tok_pos.join(dup_starts, ["doc_id", "pos"], "left")
        .select("doc_id", "pos", "tok", covered.alias("cov"))
        .filter(~F.col("cov"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    base = toked.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def _span_hashes(
    docs: DataFrame, w: int, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, pos, h): the md5-int60 hash of every FULL w-token sliding
    window — the span stream repeated_span_report/trim and the
    decontamination report all consume. Span strings are assembled with
    w-1 codegen LEAD calls over the per-doc position window and hashed
    immediately; they never cross a shuffle (the repeated_span_report
    plan note; its 20 s HOF-lambda trap applies here too)."""
    from pyspark.sql import Window

    from ..functions.text import tokens as _tok
    from .classify import _md5_int60

    tok_pos = docs.select(
        F.col(id_col).alias("doc_id"), _tok(F.col(text_col)).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n"),
        F.posexplode("toks").alias("pos", "tok"),
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    span = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", j).over(wspec) for j in range(1, w)],
    )
    return (
        tok_pos.select("doc_id", "n", "pos", span.alias("span"))
        .filter(F.col("pos") <= F.col("n") - w)
        .select(
            "doc_id",
            "pos",
            _md5_int60(F.concat(F.lit("sp:"), F.col("span"))).alias("h"),
        )
    )


def benchmark_contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION — the n-gram test-set-overlap gate every
    serious pretraining pipeline runs (the GPT-3 appendix-C discipline:
    a training document sharing any w-token window with an evaluation
    set is contaminated — evaluating on it would leak): every w-token
    sliding window of every training document is hashed (md5-int60, the
    exact-oracle discipline) and tested for membership in the benchmark
    corpus's window-hash SET; the report is per-document —

      (doc_id, n_spans, n_contaminated, contaminated)

    n_contaminated counts the document's windows that appear anywhere in
    the benchmark (multiplicity over the DOC's windows; the benchmark
    side is a set), contaminated = n_contaminated > 0 — the drop/audit
    signal. Short docs (< w tokens) have n_spans = 0 and are clean by
    definition (the window gate cannot see them; pair it with exact
    fingerprint dedup against the benchmark for the degenerate cases).

    Plan (100 TB): the benchmark hash set is DISTINCT-aggregated behind
    its own scan and BROADCAST (eval suites are thousands-to-millions of
    windows — driver-safe by construction, and the contract documents
    it: a benchmark too large to broadcast is a corpus, not an eval
    set), so the training corpus's span stream is probed entirely
    map-side — span strings never materialize across a shuffle, the
    membership test is a broadcast LEFT SEMI-shaped join, and the ONLY
    shuffle in the whole plan is the final per-doc rollup. Contrast with
    repeated_span_report's self-repetition count, which needs the
    hash-partition shuffle; contamination against a FIXED set does not."""
    from ..functions.text import tokens as _tok

    bench_h = (
        _span_hashes(bench, w, bench_id_col, bench_text_col)
        .select("h")
        .distinct()
    )
    spans = _span_hashes(docs, w, id_col, text_col)
    hits = (
        spans.join(F.broadcast(bench_h), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.size(_tok(F.col(text_col))) - F.lit(w) + 1, F.lit(0))
        .cast("bigint")
        .alias("n_spans"),
    )
    return per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias(
            "n_contaminated"
        ),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )
