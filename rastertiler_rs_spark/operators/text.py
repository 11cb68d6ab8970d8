"""Training-data text operators: dedup, similarity, quality, language ID,
token counting, fingerprinting. All JVM-side column expressions or
cell-style equi-joins — the hot paths never enter Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ._lineage import cut


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: (content_md5, n_docs, keep_doc_id)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def char_shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct character n-gram shingles per doc: (doc_id, shingle)."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))
            ).alias("pos"),
            F.col(text_col),
        )
        .select("doc_id", F.expr(f"substr({text_col}, pos, {n})").alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold_pct: int = 30,
                        max_df_pct: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b,
    100*|∩| >= threshold_pct*|∪| — integer arithmetic end to end).

    ``max_df_pct`` applies the standard document-frequency cap: shingles
    present in more than max_df_pct% of docs are dropped BEFORE sizes
    and intersections (Jaccard is then defined over the capped shingle
    sets on both engines). This is what makes the exact path skew-safe:
    the self-join's hot keys are exactly the high-DF shingles, and the
    drop set is tiny (few shingles are hot), so it broadcasts and the
    filter is a map-side anti-join. Uncapped remains available for
    small verification runs.

    Scale note: even capped, the pair-count self-join is O(Σ df²) over
    shingle document frequencies — this function is the exact
    VERIFICATION twin. At corpus scale use minhash_lsh_pairs as the
    candidate generator and verify only its candidate pairs.
    """
    # sh feeds FOUR consumers (the hot-shingle df count, sizes, and both
    # self-join sides); without a materialization boundary each consumer
    # re-executes the shingle explode+distinct from the scan (8 scans in
    # the r5 physical plan) — the lightweight (doc_id, shingle) proxy is
    # what to store once, not re-derive per consumer
    sh = cut(char_shingles(docs, n))
    if max_df_pct is not None:
        totals = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(totals))
            .filter(F.lit(100) * F.col("df") > F.lit(max_df_pct) * F.col("n_docs"))
            .select("shingle")
        )
        # the drop set is tiny by construction (few shingles are hot) —
        # broadcast anti-join keeps the cap map-side at any scale
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    # sizes joins: AQE sees the true (post-checkpoint) sizes and picks
    # broadcast when the per-doc table fits — no hint, so the exact twin
    # still degrades to a shuffle join instead of failing past the
    # broadcast cap on a huge corpus
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .filter(F.lit(100) * F.col("inter") >= F.lit(threshold_pct) * (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b")
    )


def minhash_signatures(docs: DataFrame, num_perms: int = 16, n: int = 3) -> DataFrame:
    """MinHash signatures: perm k's hash = xxhash64(shingle, k); min per
    doc per perm. Wide layout: (doc_id, h0..h{P-1})."""
    sh = char_shingles(docs, n)
    aggs = [F.min(F.xxhash64("shingle", F.lit(k))).alias(f"h{k}") for k in range(num_perms)]
    return sh.groupBy("doc_id").agg(*aggs)


def _check_bands(num_perms: int, band_size: int) -> None:
    if not 0 < band_size <= num_perms or num_perms % band_size:
        raise ValueError(
            f"band_size must divide num_perms (got num_perms={num_perms}, "
            f"band_size={band_size}) — leftover permutations would be "
            "silently dropped (weaker recall with no warning)")


def _band_pairs(sig: DataFrame, band_buckets) -> DataFrame:
    """(doc_a < doc_b, n_bands_shared) over docs sharing a band bucket.

    Lazy lineage cut: the self-join references buckets twice, and
    exchange reuse cannot be relied on across join sides — without a
    materialization boundary the signature aggregation (the corpus
    pass) runs once PER SIDE. The stored table is (doc_id, band,
    bucket) — ~24 bytes/doc/band, the lightweight proxy of the corpus
    (guide §8 discipline), so one pass + a tiny store beats two passes
    at every scale."""
    buckets = cut(sig.select(
        "doc_id", F.posexplode(band_buckets).alias("band", "bucket")))
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands_shared"))
    )


def lsh_candidate_pairs(docs: DataFrame, num_perms: int = 16, band_size: int = 4,
                        n: int = 3) -> DataFrame:
    """Banded-LSH near-dup candidates: docs sharing any band bucket.
    (doc_a < doc_b, n_bands_shared)."""
    _check_bands(num_perms, band_size)

    sig = minhash_signatures(docs, num_perms, n)
    # ONE posexplode over an array of per-band buckets, NOT a union of
    # per-band selects: each union leg embedded the full signature
    # subtree (scan -> shingle distinct -> 16-way min agg), so the 4-band
    # plan re-executed that aggregation once per leg AND per join side —
    # 8 scans in the physical plan (plans/r06/minhash_lsh_before.txt).
    # The exploded form computes the signature once per side and lets
    # exchange reuse collapse the two identical sides.
    band_buckets = F.array(*[
        F.xxhash64(*[F.col(f"h{b * band_size + j}") for j in range(band_size)])
        for b in range(num_perms // band_size)])
    return _band_pairs(sig, band_buckets)


# --- integer-exact variants (DuckDB-oracle-checkable) ---------------------
#
# The xxhash64 paths above are the engine-fast defaults; these twins
# replace the engine hash with a polynomial rolling hash mod 2^31-1
# (fold: acc*B + charcode), a pure-arithmetic formula any engine can
# evaluate identically — so the driver contract verifies the FULL
# minhash/simhash/winnowing dataflow against SQL, not just row counts.

HM = 2147483647  # 2^31 - 1 (Mersenne): products stay < 2^62, no overflow


def poly_hash_col(col, base: int = 131):
    """Fold a string column into a 31-bit polynomial hash (long)."""
    codes = F.transform(F.sequence(F.lit(1), F.length(col)),
                        lambda i: F.ascii(col.substr(i, F.lit(1))).cast("long"))
    return F.aggregate(codes, F.lit(0).cast("long"),
                       lambda acc, c: (acc * base + c) % HM)


def minhash_perm(h, k: int):
    """Permutation k of a 31-bit hash: (h*A_k + C_k) % HM, constants
    from a public formula (no engine hash)."""
    a = (2654435761 + 2 * k) % HM
    c = (40503 * (k + 1)) % HM
    return (h * F.lit(a) + F.lit(c)) % F.lit(HM)


def minhash_signatures_int(docs: DataFrame, num_perms: int = 16, n: int = 3) -> DataFrame:
    """MinHash signatures over polynomial shingle hashes: (doc_id,
    h0..h{P-1}) — the integer-exact twin of minhash_signatures."""
    sh = char_shingles(docs, n).withColumn("sh_h", poly_hash_col(F.col("shingle")))
    aggs = [F.min(minhash_perm(F.col("sh_h"), k)).alias(f"h{k}")
            for k in range(num_perms)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs_int(docs: DataFrame, num_perms: int = 16,
                            band_size: int = 4, n: int = 3) -> DataFrame:
    """Banded-LSH near-dup candidates, integer-exact: band bucket =
    polynomial fold of the band's signature slice. Same scale shape as
    lsh_candidate_pairs (bucket equi-join, no all-pairs)."""
    _check_bands(num_perms, band_size)

    sig = minhash_signatures_int(docs, num_perms, n)
    # single posexplode over per-band bucket folds (see the engine-hash
    # variant above): the union-of-selects form re-executed the whole
    # signature aggregation once per band per join side
    def _fold(b):
        bucket = F.lit(0).cast("long")
        for j in range(band_size):
            bucket = (bucket * F.lit(1000003)
                      + F.col(f"h{b * band_size + j}")) % F.lit(HM)
        return bucket

    band_buckets = F.array(*[_fold(b)
                             for b in range(num_perms // band_size)])
    return _band_pairs(sig, band_buckets)


def simhash62_int(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """62-bit SimHash from two independent polynomial token hashes
    (B=131 for the high 31 bits, B=137 for the low 31): per-bit votes,
    bit set where the vote is positive. Every token hash is integer
    arithmetic, so the SQL twin computes the same signature."""
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    ).select(
        "doc_id",
        ((poly_hash_col(F.col("tok"), 131) * F.lit(1 << 31))
         + poly_hash_col(F.col("tok"), 137)).alias("th"),
    )
    votes = [
        F.sum(F.when(F.expr(f"(th >> {i}) & 1") == 1, 1).otherwise(-1)).alias(f"v{i}")
        for i in range(62)
    ]
    agg = tokens.groupBy("doc_id").agg(*votes)
    expr = " + ".join(f"(case when v{i} > 0 then shiftleft(1L, {i}) else 0L end)"
                      for i in range(62))
    return agg.select("doc_id", F.expr(expr).alias("simhash"))


def simhash_near_pairs_int(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, hamming) by SimHash hamming
    distance <= max_hamming, integer-exact: 16-bit chunk blocking over
    the 62-bit simhash (pigeonhole recall for hamming <= 3; wider
    distances are best-effort, the standard LSH tradeoff)."""
    sig = simhash62_int(docs)
    # two join sides, one 62-vote aggregation pass
    chunks = cut(sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"),
                     F.expr(f"(simhash >> {16 * i}) & 65535").alias("val"))
            for i in range(4)
        ])).alias("c"),
    ).select("doc_id", "simhash", "c.chunk", "c.val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int").alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def doc_fingerprints_int(docs: DataFrame, text_col: str = "text",
                         window: int = 8) -> DataFrame:
    """Winnowing-style fingerprint, integer-exact twin: min polynomial
    hash over each ``window``-gram."""
    grams = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.greatest(F.length(text_col) - (window - 1), F.lit(1)))).alias("pos"),
        F.col(text_col),
    ).select("doc_id",
             poly_hash_col(F.expr(f"substr({text_col}, pos, {window})")).alias("gh"))
    return grams.groupBy("doc_id").agg(F.min("gh").alias("fingerprint"))


# BPE-ish tokenizer regex: letter runs stay one token, digits split
# individually (as modern BPE vocabularies do), every other non-space
# symbol is its own token. Disjoint greedy character classes only — no
# alternation-order or lookaround semantics — so Java regex (Spark) and
# RE2 (DuckDB) count identically.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_bpe_tokens): whitespace tokenization plus a
    BPE-ish regex token count (BPE_TOKEN_RE), both JVM-side."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(t), r"\s+")).alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), F.lit(0)))
        .alias("n_bpe_tokens"))


def doc_keywords(docs: DataFrame, k: int = 3,
                 text_col: str = "text") -> DataFrame:
    """Top-k tokens per document by (tf DESC, corpus df ASC, token
    ASC) — frequency-first with rarity (df) breaking ties, all integer.
    NOTE: this is NOT the float tf*idf ordering (which can rank a rare
    token above a frequent near-stopword); it is the deterministic
    cross-engine-exact variant, chosen so the window top-k sits under
    the value gate. The token tie-break makes the order total.

    Plan shape (100 TB): explode → hash agg tf(doc, token) → hash agg
    df(token) → shuffle equi-join on token (df is token-cardinality —
    NOT broadcastable at corpus scale) → per-doc window top-k. All
    JVM-side; the window partitions by doc_id, the natural key."""
    toks = docs.select("doc_id", F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)),
                             F.lit("[a-z0-9]+"), F.lit(0))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token"))
    return (tf.join(df_, "token")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", F.col("rank").cast("long").alias("rank"),
                    "token", "tf", "df"))


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer quality features (cross-engine deterministic): length,
    punctuation count, digit count, space count, mean word length x100."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, " ", ""))
    n_tok = F.size(F.split(F.trim(t), r"\s+"))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_punct.alias("n_punct"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        F.floor((n_chars - n_space) * 100 / n_tok).cast("long").alias("mean_wordlen_x100"),
    )


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style REPETITION quality signals (Rae et al. 2021 §A1.1:
    duplicate-fraction and top-n-gram-fraction filters), kept as exact
    integer counts so they cross the SQL gate bit-for-bit — callers
    derive the fractions: (doc_id, n_words, n_distinct_words,
    top_word_n, n_bigrams, top_bigram_n).  A high top_word_n/n_words or
    top_bigram_n/n_bigrams flags the degenerate repetitive text LLM
    corpora drop.  All JVM: split + explode + two hash aggregations
    (per-(doc, gram) then per-doc), bigrams built by a transform over
    the split array — no python stage, partial aggregation map-side."""
    arr = F.split(F.col(text_col), " ", -1)
    words = docs.select("doc_id", F.explode(arr).alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    wd = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.max("c").alias("top_word_n"))
    # NB sequence(1, 0) DESCENDS in Spark (it is not empty like DuckDB
    # generate_series) — guard the <2-word case explicitly
    bigrams = docs.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(split({text_col}, ' ', -1)) >= 2 THEN "
            f"transform(sequence(1, size(split({text_col}, ' ', -1)) - 1), "
            f"i -> concat_ws(' ', element_at(split({text_col}, ' ', -1), i), "
            f"element_at(split({text_col}, ' ', -1), i + 1))) "
            f"ELSE array() END")).alias("b"))
    bc = bigrams.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    bd = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_n"))
    return (wd.join(bd, "doc_id", "left")
            .select("doc_id", "n_words", "n_distinct_words", "top_word_n",
                    F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
                    F.coalesce(F.col("top_bigram_n"), F.lit(0))
                    .alias("top_bigram_n")))


_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " und ", " die "],
}


def lang_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language scores (n-gram heuristic): occurrence count
    of per-language stopword markers, plus argmax guess (ties → 'und')."""
    t = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    cols = []
    for lang, markers in _LANG_MARKERS.items():
        score = None
        for m in markers:
            c = (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit("")))) / len(m)
            score = c if score is None else score + c
        cols.append(score.cast("long").alias(f"score_{lang}"))
    scored = docs.select("doc_id", *cols)
    best = F.greatest(*[F.col(f"score_{l}") for l in _LANG_MARKERS])
    guess = (
        F.when(best == 0, F.lit("und"))
        .when(F.col("score_en") == best, "en")
        .when(F.col("score_fr") == best, "fr")
        .otherwise("de")
    )
    return scored.withColumn("lang_guess", guess)


def doc_chunks(docs: DataFrame, size: int = 32, stride: int = 24,
               text_col: str = "text") -> DataFrame:
    """Overlapping token-window CHUNKING — the RAG/embedding-prep
    primitive: one row per (doc, chunk) with the chunk's token count
    and text. Chunk i covers tokens [i·stride+1, i·stride+size]
    (1-based, whitespace tokens — the same split rule the doc_tokens
    twin pins); chunks start while i·stride < n, so every token is
    covered and the tail chunk may be short. Pure JVM (split +
    sequence-explode + slice) — the explode is the only row
    amplification, ~n/stride rows per doc."""
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    if stride > size:
        raise ValueError(
            f"stride ({stride}) > size ({size}) would skip tokens — "
            "full coverage requires stride <= size")
    base = (docs.select("doc_id",
                        F.split(F.trim(F.col(text_col)), r"\s+")
                        .alias("toks"))
            .withColumn("n", F.size("toks")))
    nchunks = (F.floor((F.col("n") - 1) / stride) + 1).cast("int")
    ch = base.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("chunk_id"))
    sliced = F.slice(F.col("toks"),
                     F.col("chunk_id") * stride + 1, size)
    return ch.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(sliced).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", sliced).alias("chunk_text"))
