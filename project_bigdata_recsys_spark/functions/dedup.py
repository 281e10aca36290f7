"""Deduplication operators over the documents corpus (SURVEY.md §2.12).

Five dedup families, each with the scale strategy a 100 TB corpus needs:

  exact        sha/groupBy — one shuffle keyed by hash; no full-text shuffle
               (group on the 32-byte digest, carry min(doc_id)).
  minhash-LSH  shingle → MinHash signature → band-bucket join — candidate
               pairs only meet inside a bucket, so the cross product never
               materializes.  Signatures are md5-derived higher-order
               functions (no shuffle until banding, no ML fit pass).
  simhash      64-bit weighted-token hash; near-dups differ in few bits.
               Banding on 4x16-bit keys turns Hamming search into equi-joins.
  ngram-jaccard exact Jaccard on word n-gram shingle sets via explode+join —
               the verification pass run *after* LSH candidate generation.
  embedding    cosine near-dup over the embeddings table (see similarity.py).

Every hash here derives from md5 of the DATA (never an engine-private RNG
or hash function), so all four families — including minhash and simhash —
reproduce bit-for-bit in DuckDB and are oracle-checked by the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from project_bigdata_recsys_spark.caching import persist_tracked, scratch_dir
from project_bigdata_recsys_spark.catalog import fan_out, load_table
from project_bigdata_recsys_spark.functions.text import tokens


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
#: Offset for deterministically planted duplicate ids (the shipped
#: corpora contain no duplicates, so the dedup gates plant their own).
#: The SQL oracles embed the same literal, which is why it stays a
#: constant instead of a max(doc_id) derivation — drifting one side
#: would break parity.  :func:`planted_id` makes the convention's
#: assumption (real ids stay below the offset) fail LOUDLY at scan time
#: instead of silently colliding on a >1M-doc corpus.
PLANTING_OFFSET = 1_000_000


def planted_id(doc_id) -> Column:
    """Planted-duplicate id: ``doc_id + PLANTING_OFFSET``, guarded — a
    source id at or above the offset raises at execution time (per-row
    check riding the normal scan, no extra pass) rather than colliding
    with a planted id and silently changing every planting oracle's
    semantics (r11 verdict task #7)."""
    doc_id = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return F.when(
        doc_id < PLANTING_OFFSET, doc_id + PLANTING_OFFSET
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("planting-offset collision: doc_id "),
                doc_id.cast("string"),
                F.lit(
                    f" >= {PLANTING_OFFSET}; re-derive the offset from"
                    " max(doc_id) in BOTH engines (see PLANTING_OFFSET)"
                ),
            )
        )
    )


def exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: keep the min doc_id as the canonical copy.

    Scale: groupBy(sha2) shuffles 32-byte digests + ids, never the text.
    Returned as (canonical doc_id, n_copies) for every text that appears
    more than once, plus the distinct-corpus size check is a trivial
    follow-up count.

    The driver corpus has no exact duplicates, which would make this a
    vacuous always-empty check — so the query plants a deterministic
    duplicate set (every doc_id % 10 == 0 re-appears under doc_id +
    1,000,000) and must find exactly those groups.
    """
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        planted_id("doc_id").alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return (
        corpus.select(F.sha2("text", 256).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .orderBy("canonical_id")
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The actual dedup transform: one row per distinct text, keeping the
    smallest id (deterministic winner, unlike dropDuplicates which keeps an
    arbitrary row)."""
    w_key = F.sha2(F.col(text_col), 256)
    winners = (
        docs.select(w_key.alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(winners, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# Word n-gram shingles + exact Jaccard (the verify pass)
# --------------------------------------------------------------------------
def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (built-in only:
    split + transform over offsets + filters)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    # guard: Spark's sequence(0, -1) counts *down*, so short docs need an
    # explicit empty array rather than a negative-length sequence
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(0), n_tok - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def hash32(col, salt: str = ""):
    """Data-derived 32-bit hash: first 8 hex chars of md5(salt || value) as
    a long in [0, 2^32).  Engine-independent — DuckDB computes the identical
    value as ``('0x' || substr(md5(salt || v), 1, 8))::BIGINT`` — which is
    what makes the minhash/simhash operators oracle-checkable, unlike
    ``xxhash64``/``F.hash`` (engine-private algorithms)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8), 16, 10).cast(
        "long"
    )


def sorted_pairs(ds_col):
    """All (a, b) combinations with a < b from a SORTED array column, via
    array combinatorics (transform over suffix slices + flatten).  This is
    THE pair-generation kernel of the dedup family: documents grouped per
    bucket key never meet in a join — the O(n²) cross product over the
    corpus is replaced by per-bucket combinations of an in-memory array."""
    return F.flatten(
        F.transform(
            ds_col,
            lambda x, i: F.transform(
                F.slice(ds_col, i + 2, F.size(ds_col)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


#: Group-size threshold between the two pair-generation strategies below.
PAIR_GEN_ARRAY_MAX = 64


def bucket_pairs(
    doc_lists: DataFrame, key_cols: list[str], carry: list[str] | None = None
) -> DataFrame:
    """Generate all intra-bucket (a, b) pairs (a < b) from a DataFrame of
    ``key_cols + ds`` rows, where ``ds`` is the SORTED member array of the
    bucket — hybrid strategy, one column ``p`` = struct(a, b) out, plus
    any ``carry`` columns passed through unchanged (for multi-config
    sweeps that tag each bucket with its config and aggregate per tag
    downstream — lsh_band_sweep's single-pass plan).

    Small buckets (≤ PAIR_GEN_ARRAY_MAX members) use array combinatorics:
    the whole pair set is built inline in the row, no join, no shuffle.

    Large buckets switch to an explode + self-equi-join on the bucket key:
    a d-member bucket's d(d-1)/2 pairs are produced by parallel join tasks
    instead of a single d²/2-element array in one row — one giant template
    family would otherwise serialize on one core and one allocation
    (measured: a 1.6k-doc bucket = 1.3M pairs in a single row, ~2x the
    whole query's runtime).  Hot keys in the join are exactly the shape
    AQE skew-join splits at scale.  Struct comparison ``a < b`` orders by
    the first field (the id), so both strategies emit identical pair sets.
    """
    carry = list(carry or [])
    if not all(c in key_cols for c in carry):
        # ValueError, not assert: the precondition must survive
        # ``python -O`` — a silent pass here surfaces later as an
        # opaque missing-column AnalysisException
        raise ValueError(
            f"carry columns {carry} must be a subset of key_cols {key_cols}"
        )
    small = doc_lists.filter(F.size("ds") <= PAIR_GEN_ARRAY_MAX).select(
        *carry, F.explode(sorted_pairs(F.col("ds"))).alias("p")
    )
    big = doc_lists.filter(F.size("ds") > PAIR_GEN_ARRAY_MAX)
    left = big.select(*key_cols, F.explode("ds").alias("a"))
    right = big.select(*key_cols, F.explode("ds").alias("b"))
    big_pairs = (
        left.join(right, key_cols)
        .filter(F.col("a") < F.col("b"))
        .select(*carry, F.struct("a", "b").alias("p"))
    )
    return small.unionByName(big_pairs)


#: Default hot-shingle document-frequency cap.  A shingle shared by more
#: than this many documents (stopword-only grams, boilerplate) generates
#: O(df²) candidate pairs while carrying no discriminative signal; at the
#: driver SFs no shingle comes near it, so the default is a no-op there.
DEFAULT_MAX_SHINGLE_DF = 10_000

#: Default per-band-key group cap (minhash + simhash banding): a band key
#: shared by df docs generates O(df²) candidate pairs.  No key approaches
#: this at the driver SFs (no-op there); at corpus scale it bounds
#: degenerate keys (e.g. the near-constant band of boilerplate-heavy or
#: near-empty docs).
DEFAULT_MAX_BAND_KEY_DOCS = 10_000


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.20,
    max_doc_freq: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all document pairs above a
    threshold (see :func:`ngram_jaccard_pairs_for`)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_for(
        docs, n=n, threshold=threshold, max_doc_freq=max_doc_freq
    )


def ngram_jaccard_pairs_for(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.20,
    max_doc_freq: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all document pairs above a
    threshold, computed distributively:

        explode shingles -> window count (set size per doc) -> group docs
        per shingle -> intra-bucket pairs -> count intersections ->
        jaccard = inter/(|A|+|B|-inter)

    Scale: documents are grouped per shingle and pairs generated with the
    hybrid bucket kernel — the O(n²) cross product never exists, and the
    expensive tokenize+shingle explode runs ONCE in the only scan of the
    text (a naive self-join-on-shingle plans it four times; measured
    ~1.4x slower).  Per-doc set sizes ride along as a window count over
    the exploded rows and travel with each doc id inside the pair
    structs, so the final Jaccard needs no size joins and no second
    tokenize pass.  The corpus is fanned out first so tokenize+shingle
    uses every core even when the scan is a single small file.

    Hot shingles (stopword-only grams, boilerplate headers) are the skew
    risk: a shingle shared by df documents generates df(df-1)/2 pair rows
    — quadratic in generated ROWS, so AQE skew-join cannot help (the
    blowup is not in partition sizes).  ``max_doc_freq`` drops shingles
    whose document frequency exceeds the cap before pair generation,
    bounding any single shingle's contribution; dropped shingles still
    count in the per-doc set sizes, so Jaccard for pairs that shared a
    dropped shingle is (slightly, conservatively) underestimated — the
    standard df-pruning trade for near-dup detection.  ``None`` disables
    the cap (exact oracle semantics).  This same plan is the LSH
    verification pass.
    """
    docs = fan_out(docs)
    # per-doc set size computed on the ARRAY before exploding — it rides
    # the projection for free.  (Round 2 computed it as a window count
    # over the exploded rows "to share the shuffle"; the window IS a full
    # shuffle+sort of the exploded data, ~2x this query's cost at sf0.1.)
    sh_arr = F.filter(shingles(F.col("text"), n), lambda s: F.length(s) > 0)
    # two-step select: the named intermediate stops CollapseProject from
    # inlining the expensive shingle expression into both consumers
    sh = docs.select("doc_id", sh_arr.alias("sh")).select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )

    # all (a < b) doc pairs sharing each shingle; each member struct
    # carries its set size so Jaccard is computable without joins
    doc_lists = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_doc_freq is not None:
        doc_lists = doc_lists.filter(F.size("ds") <= max_doc_freq)
    inter = (
        bucket_pairs(doc_lists, ["shingle"])
        .groupBy(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.n").alias("size_a"),
            F.col("p.b.n").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# MinHash + LSH (the scale path for near-dup candidate generation)
# --------------------------------------------------------------------------
#: Signature width / banding for minhash LSH: 16 hashes in 8 bands of 2.
#: Collision probability for a pair with Jaccard s is 1-(1-s²)^8 — ~0.82 at
#: s=0.5, ~0.99 at s=0.7 — the standard curve for near-dup candidate
#: generation at threshold ~0.5.
N_MINHASH = 16
MINHASH_BAND_ROWS = 2

#: 2-universal hash family modulus (Mersenne prime 2^31-1).  Keeping the
#: base hash and multipliers below 2^31 bounds a_i * x under 2^62, so the
#: multiply-mod never overflows a signed 64-bit long in either engine.
MINHASH_PRIME = 2_147_483_647


def minhash_params(n_hashes: int = N_MINHASH) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) multiplier/offset pairs for the universal hash
    family h_i(x) = (a_i*x + b_i) mod p — Knuth-constant derived, nonzero,
    identical constants embedded in the DuckDB oracle."""
    return [
        (
            (i * 2_654_435_761 + 1) % MINHASH_PRIME,
            (i * 40_503 + 17) % MINHASH_PRIME,
        )
        for i in range(n_hashes)
    ]


def _minhash_from_bases(bases_col, n_hashes: int = N_MINHASH):
    def _mh(a: int, b: int):
        return lambda x: (x * a + b) % MINHASH_PRIME

    return F.array(
        *[
            F.array_min(F.transform(bases_col, _mh(a, b)))
            for a, b in minhash_params(n_hashes)
        ]
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, sig) minhash signature per document with a non-empty
    shingle set.  The md5 base hashes are materialized ONCE into a bases
    array; the ``n_hashes`` universal hashes are multiply-mods over it
    (CollapseProject won't inline a non-cheap alias into 16 consumers,
    so the md5 pass stays single)."""
    sh = F.filter(shingles(F.col("text"), n), lambda s: F.length(s) > 0)
    with_bases = (
        docs.select("doc_id", sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.transform(F.col("sh"), lambda s: hash32(s) % MINHASH_PRIME).alias(
                "bases"
            ),
        )
    )
    sig = _minhash_from_bases(F.col("bases"), n_hashes)
    return with_bases.select("doc_id", sig.alias("sig"))


def shared_minhash_signatures(
    spark: SparkSession, sf_dir: str, n: int = 3, n_hashes: int = N_MINHASH
) -> DataFrame:
    """The corpus minhash signature frame, persisted once per (session,
    sf, n, n_hashes) — the same shared-state tier as the co-occurrence
    edge frame (graph.py): minhash_candidates, minhash_verified_pairs
    (transitively), and lsh_band_sweep all consume the identical
    (doc_id, 16-long sig) frame, and the md5 shingle pass that builds it
    dominates each of their costs (~4-5 s of a 4-7 s query at sf0.1).
    In production the signatures are a persisted nightly artifact anyway
    (build_dedup_index writes them to parquet); this tier is the
    in-session equivalent — PARQUET-backed like the CC-labeling memo
    (shared_components), not persist(): session owners' block sweeps
    drop cached blocks between queries, and an evicted in-memory frame
    would silently re-run the whole md5 pass on the next consumer.
    ~140 B/doc; the path revalidates against scratch purges."""
    import os

    from project_bigdata_recsys_spark.caching import scratch_dir

    key = (spark.sparkContext.applicationId, str(sf_dir), n, n_hashes)
    if key not in _MINHASH_SIGS or not os.path.exists(_MINHASH_SIGS[key]):
        path = os.path.join(scratch_dir(prefix="spark_minhash_sigs_"), "sigs")
        minhash_signatures(
            fan_out(
                load_table(spark, sf_dir, "documents").select("doc_id", "text")
            ),
            n=n,
            n_hashes=n_hashes,
        ).write.mode("overwrite").parquet(path)
        _MINHASH_SIGS[key] = path
    return spark.read.parquet(_MINHASH_SIGS[key])


_MINHASH_SIGS: dict[tuple, str] = {}


def minhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    n_hashes: int = N_MINHASH,
    jaccard_threshold: float = 0.5,
    max_band_key_docs: int | None = DEFAULT_MAX_BAND_KEY_DOCS,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs.

    shingle set -> md5-minhash signature (HOFs, no shuffle) -> explode into
    8 bands of 2 rows -> group docs per (band, key) -> pair combinatorics ->
    estimated Jaccard = fraction of agreeing signature positions.

    Scale: each doc is replicated once per band and pairs are generated
    only inside a band bucket — linear in corpus size, never quadratic;
    ``max_band_key_docs`` bounds degenerate buckets exactly like the
    simhash band cap.  Replaces round-1's pyspark.ml MinHashLSH
    approxSimilarityJoin: ~4x faster end-to-end (no fit pass, no sparse
    vectors, no join-side explode) and deterministic, so the driver
    oracle-checks it instead of rows-only.
    """
    # The signatures feed THREE consumers here (band explosion + both
    # sides of the signature re-join) and other queries besides (the
    # band sweep, the verified-pairs composition), and Spark has no
    # cross-branch common-subexpression sharing — unpersisted, the whole
    # scan+shingle+md5 pipeline executes per consumer (measured ~2x
    # query cost at sf0.1).  Shared tier, keyed (session, sf, n,
    # n_hashes): the build runs once per session, like the nightly
    # signature artifact it models.
    with_sig = shared_minhash_signatures(spark, sf_dir, n=n, n_hashes=n_hashes)
    n_bands = n_hashes // MINHASH_BAND_ROWS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                F.col("sig")[2 * b].alias("k1"),
                F.col("sig")[2 * b + 1].alias("k2"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = with_sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", "bk.band_no", "bk.k1", "bk.k2"
    )
    doc_lists = (
        exploded.groupBy("band_no", "k1", "k2")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_band_key_docs is not None:
        doc_lists = doc_lists.filter(F.size("ds") <= max_band_key_docs)
    # candidate pairs are bare (doc_a, doc_b) ids: an identical-doc family
    # collides in EVERY band, so pre-dedup pair rows are ~n_bands x the
    # final set — carrying the 16-long signatures through that blowup
    # shuffles ~20x more bytes than joining them back afterwards
    cands = (
        bucket_pairs(doc_lists, ["band_no", "k1", "k2"])
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = with_sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = with_sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = F.round(matches / F.lit(float(n_hashes)), 6)
    return (
        cands.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# SimHash (64-bit) with banded bucketing
# --------------------------------------------------------------------------
def simhash_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """64-bit SimHash per document, set-based for whole-stage codegen:

        explode distinct tokens -> one md5 per token, split into two
        32-bit halves -> groupBy(doc) with 64 columnar SUMs of +/-1 bit
        votes -> sign of each sum assembles the fingerprint long.

    This shape keeps everything in Tungsten hash aggregation (one shuffle
    keyed by doc id, partial aggregation map-side) — measured ~5x faster
    than a higher-order-function fold over per-token vote arrays, and the
    gap widens with document length.  Docs with zero tokens drop out
    (no rows after explode); guard upstream if empty docs must keep a
    fingerprint.

    The 64 hash bits come from md5 (hi/lo 8-hex-char halves), not
    ``xxhash64``: md5 is data-derived and engine-independent, so the whole
    simhash pipeline reproduces bit-for-bit in the DuckDB oracle; xxhash64
    would be marginally cheaper but unverifiable outside the JVM.

    ``tokens_col`` names a pre-tokenized array column to use instead of
    tokenizing ``text_col`` — callers that already persist a per-doc token
    frame (sourcetriage.source_triage_report) avoid a second text scan +
    tokenization; identical output (the tokenizer is the same corpus-wide
    kernel either way).
    """
    tok_array = (
        F.col(tokens_col) if tokens_col else tokens(F.col(text_col))
    )
    tok = fan_out(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(tok_array)).alias("tok"),
    ).filter(F.length("tok") > 0)
    md5 = F.md5("tok")
    halves = tok.select(
        id_col,
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("lo"),
    )

    def _bit(b: int):
        src = F.col("lo") if b < 32 else F.col("hi")
        return F.shiftrightunsigned(src, b % 32).bitwiseAND(F.lit(1))

    votes = halves.groupBy(id_col).agg(
        *[F.sum(_bit(b).cast("long") * 2 - 1).alias(f"v{b}") for b in range(64)]
    )
    out = F.lit(0).cast("long")
    for b in range(64):
        weight = (
            F.lit(-(1 << 63)).cast("long")
            if b == 63
            else F.shiftleft(F.lit(1).cast("long"), b)
        )
        out = out + F.when(F.col(f"v{b}") > 0, weight).otherwise(F.lit(0).cast("long"))
    return votes.select(id_col, out.alias("simhash"))


def simhash_near_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = 3,
    max_band_key_docs: int | None = DEFAULT_MAX_BAND_KEY_DOCS,
) -> DataFrame:
    """Banded SimHash near-duplicate pairs (see
    :func:`simhash_near_pairs_for`)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs_for(
        docs, max_hamming=max_hamming, max_band_key_docs=max_band_key_docs
    )


def simhash_near_pairs_for(
    docs: DataFrame,
    max_hamming: int = 3,
    max_band_key_docs: int | None = DEFAULT_MAX_BAND_KEY_DOCS,
    sort: bool = True,
    tokens_col: str | None = None,
) -> DataFrame:
    """Banded SimHash near-duplicate pairs, verified by exact popcount on
    the XOR of fingerprints.

    Shape: explode each doc into its 4 (band_no, key) rows, group docs
    per band key, generate pairs with array combinatorics.  The expensive
    fingerprint subtree runs ONCE — the earlier 4-way self-join form
    planned it once per band per join side (8x; measured ~2.6x slower
    end-to-end).  Same recall guarantee (pigeonhole over 4x16-bit bands:
    any pair within Hamming distance 3 shares at least one band).

    Skew (100 TB): a degenerate band key shared by df docs inflates its
    pair array to df(df-1)/2 generated rows — quadratic in ROWS, beyond
    AQE's reach.  ``max_band_key_docs`` drops band-key groups larger than
    the cap before pair generation.  Recall trade: a pair meeting ONLY in
    a dropped band is missed; pairs within the Hamming budget usually
    agree on several bands, and a >cap-sized identical band is precisely
    the non-discriminative case (near-identical boilerplate) that
    upstream exact dedup already collapses.  ``None`` disables the cap.
    """
    sh = simhash_features(docs, tokens_col=tokens_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_no"),
                F.shiftrightunsigned(F.col("simhash"), band * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("k"),
            )
            for band in range(4)
        ]
    )
    exploded = sh.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band_no"), F.col("bk.k"))
    doc_lists = (
        exploded.groupBy("band_no", "k")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    if max_band_key_docs is not None:
        doc_lists = doc_lists.filter(F.size("ds") <= max_band_key_docs)
    cands = (
        bucket_pairs(doc_lists, ["band_no", "k"])
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.a.simhash").alias("sim_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    out = (
        cands.withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    # presentation sort only — skipped when feeding connected components,
    # where the next op reshuffles anyway
    return out.orderBy("doc_a", "doc_b") if sort else out


# --------------------------------------------------------------------------
# Near-dup clusters: connected components over candidate pairs
# --------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster near-duplicate pairs into components (doc_id → cluster_id
    = min doc_id in its component) by iterative min-label propagation —
    the step that turns pairwise similarity output into deduplicatable
    groups, which none of the pairwise operators alone provide.

    Algorithm: each round every vertex adopts the minimum label among
    itself and its neighbors (one hop), then TWO pointer-halving shortcut
    steps replace each label with its label's label (twice) — plain
    neighbor propagation alone is O(diameter) rounds (a 30-edge chain
    blows a 20-round budget; caught by test); each halving step jumps
    label chains a power of two, so doubling up quarters the rounds a
    chain-shaped component needs (the sf0.1 corpus has drift chains, not
    just cliques — measured round counts drop ~2x).

    Scale notes:
      - Each round is two hash-join shuffles (labels ⨝ edges) + one
        aggregation; edges are the candidate pairs (already pruned by
        banding), NOT all-pairs.
      - The vertex/edge frames are re-partitioned to match their actual
        size once edges are materialized (banding shrinks the graph far
        below the corpus: post-band edge counts are thousands-per-GB of
        corpus, and a 32-partition shuffle of a 3k-row label frame pays
        31 empty-task overheads per join, every round).  The target keeps
        ~256k edges per partition, so a 100 TB corpus's graph still fans
        out across the cluster while the local[32] test graph collapses
        to one partition.
      - Lineage is truncated with localCheckpoint() every round.  This is
        deliberate, not conservatism: the two pointer-halving steps are
        SELF-joins, so each references its input twice — against an
        unmaterialized input the whole upstream subtree is recomputed per
        reference, and batching two rounds per checkpoint re-evaluates
        round N's plan ~2^4 times inside round N+1 (measured 1.7x SLOWER
        than per-round checkpoints at sf0.1).  The convergence check
        rides the checkpointed frame: ``old_label`` is carried through
        the round so convergence is a filter-count over already-
        materialized data, never an extra join.
    """
    spark = pairs.sparkSession
    jsc = spark.sparkContext._jsc

    # Superseded checkpoint blocks are freed EAGERLY (round 5): each round
    # checkpoints a new label frame, and without cleanup a 20-round run
    # leaves 20+ block sets pinned in a long-lived session (bench.py used
    # to sweep them globally).  A checkpoint's blocks are identified by
    # diffing the persistent-RDD registry around its creation; freeing is
    # safe exactly when nothing references the frame anymore — enforced
    # here by construction (only the PREVIOUS round's labels are freed,
    # after the new checkpoint has materialized).  The FINAL labels frame
    # is the caller's and stays pinned.
    def _ckpt(df: DataFrame) -> tuple[DataFrame, set]:
        before = set(jsc.getPersistentRDDs().keys())
        out = df.localCheckpoint()
        return out, set(jsc.getPersistentRDDs().keys()) - before

    def _free(ids: set) -> None:
        reg = jsc.getPersistentRDDs()
        for i in ids:
            if i in reg:
                reg[i].unpersist()

    # materialize the candidate pairs ONCE: the symmetrized edge union
    # consumes `pairs` twice, and without this the whole upstream pair
    # pipeline (simhash + banding) executes once per branch
    pairs, pair_ids = _ckpt(pairs.select(F.col(a_col), F.col(b_col)))
    edges, edge_ids = _ckpt(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    n_edges = edges.count()  # cheap: edges are materialized
    _free(pair_ids)  # pairs feed nothing beyond the edge union
    n_parts = max(1, min(
        spark.sparkContext.defaultParallelism, n_edges // 262_144 + 1
    ))
    if edges.rdd.getNumPartitions() > n_parts:
        edges, new_edge_ids = _ckpt(edges.repartition(n_parts, "dst"))
        edges.count()
        _free(edge_ids)
        edge_ids = new_edge_ids
    # seed labels with min(self, min neighbor): one aggregation over the
    # symmetrized edges does exactly what the first propagation round
    # would, at a fraction of its cost (no join, no halving, no count)
    labels, label_ids = _ckpt(
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("m")).alias("label"),
        )
    )

    def _propagate(work: DataFrame) -> DataFrame:
        """One min-label round: adopt min neighbor label, then pointer
        halving x2 (label <- label(label(label)) — every label value is a
        vertex id, so the self-join lookups always resolve).  Plain
        neighbor propagation alone is O(diameter) rounds."""
        neighbor_min = (
            edges.join(work, edges.dst == work.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        out = work.join(neighbor_min, work.id == neighbor_min.src, "left").select(
            "id",
            "old_label",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        for _hop in range(2):
            lbl_map = out.select(
                F.col("id").alias("m_id"), F.col("label").alias("m_label")
            )
            out = out.join(lbl_map, out.label == lbl_map.m_id, "left").select(
                "id",
                "old_label",
                F.least(
                    F.col("label"), F.coalesce(F.col("m_label"), F.col("label"))
                ).alias("label"),
            )
        return out

    for _ in range(max_iterations):
        work = labels.withColumn("old_label", F.col("label"))
        work = _propagate(work)
        new_labels, new_label_ids = _ckpt(work)
        n_changed = new_labels.filter(F.col("label") < F.col("old_label")).count()
        _free(label_ids)  # the new checkpoint is materialized; the old
        label_ids = new_label_ids  # round's blocks are unreachable now
        labels = new_labels.select("id", "label")
        if n_changed == 0:
            break
    _free(edge_ids)  # the returned frame projects only the final labels
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def update_components(
    prior_labels: DataFrame,
    new_pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    label_col: str = "cluster_id",
) -> DataFrame:
    """Incremental connected components: fold a DELTA of candidate pairs
    (e.g. the new×old pairs a :func:`probe_dedup_index` run surfaces)
    into a settled labeling WITHOUT re-propagating the whole graph — the
    daily companion to :func:`connected_components`' full recompute
    (docs/SCALE.md "what changes first" item 4).

    Under min-label CC a settled component is equivalent to its STAR
    (label → member edges), and prior labels are min member ids, so
    running the same iterative kernel on stars ∪ delta yields exactly
    the labeling a full recompute over old ∪ new edges would produce
    (asserted in tests).  The win is round count and edge volume: stars
    are depth-1, so convergence is bounded by the DELTA's structure —
    a handful of rounds for daily drift — instead of the full graph's
    diameter, and candidate generation stays O(batch) upstream.

    ``prior_labels`` must cover every settled vertex (singletons as
    id==label rows); vertices untouched by the delta keep their label
    via a cheap anti-join union.

    Edge volume is O(affected components), not O(corpus) (r7): only the
    stars of components CONTAINING a delta endpoint enter the kernel —
    merging can only happen along delta edges, so every other
    component's labeling is provably unchanged and rides the anti-join
    union.  Before this restriction the fold shipped every settled
    component's star into the CC shuffle and 'incremental' was only
    true of the round count.
    """
    from project_bigdata_recsys_spark.caching import persist_tracked

    # persist both inputs: prior feeds the touched-label probe, the
    # star expansion, AND the untouched anti-join (3 consumers), and
    # delta feeds both endpoint projections plus the CC union —
    # unmaterialized, each consumer re-runs the caller's full upstream
    # (labeling load + singleton anti-join; band-probe candidate chain)
    # per use (guide §5).  prior is 2 narrow columns; delta is O(batch).
    prior = persist_tracked(
        prior_labels.select(
            F.col(id_col).alias("id"), F.col(label_col).alias("label")
        )
    )
    delta = persist_tracked(new_pairs.select(F.col(a_col), F.col(b_col)))
    delta_ids = (
        delta.select(F.col(a_col).alias("id"))
        .unionByName(delta.select(F.col(b_col).alias("id")))
        .distinct()
    )
    touched_labels = (
        prior.join(delta_ids, "id").select("label").distinct()
    )
    touched = prior.join(touched_labels, "label")
    star = touched.filter(F.col("id") != F.col("label")).select(
        F.col("label").alias(a_col), F.col("id").alias(b_col)
    )
    merged = connected_components(star.unionByName(delta), a_col, b_col)
    untouched = prior.join(
        merged, prior["id"] == merged["doc_id"], "left_anti"
    ).select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
    return merged.unionByName(untouched).withColumnsRenamed(
        {"doc_id": id_col, "cluster_id": label_col}
    )


def dedup_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup TRANSFORM as a gate query: plant duplicates (the
    corpus ships none), run :func:`dedup_exact`, and report per-lang
    kept/dropped counts — verifying the keep-min-id winner rule, not just
    duplicate detection."""
    from project_bigdata_recsys_spark.caching import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        planted_id("doc_id").alias("doc_id"), "text", "lang"
    )
    corpus = docs.select("doc_id", "text", "lang").unionByName(planted)
    # digest frame persisted once: the winner rollup, the keep
    # semi-join, and the per-lang input counts all need only
    # (doc_id, lang, fp) — unmaterialized, the planted union + text
    # scan ran per consumer (8 documents scans; guide §5).  Same
    # keep-min-id semantics as dedup_exact, on digests instead of rows.
    per_doc = persist_tracked(
        corpus.select("doc_id", "lang", F.sha2("text", 256).alias("fp"))
    )
    winners = per_doc.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = per_doc.join(winners, "doc_id", "left_semi")
    return (
        per_doc.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_in"))
        .join(
            kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")), "lang"
        )
        .withColumn("n_dropped", F.col("n_in") - F.col("n_kept"))
        .orderBy("lang")
    )


def minhash_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """The production near-dup composition: minhash-LSH candidate
    generation followed by EXACT Jaccard verification on the candidates
    only — estimates recall cheap pairs, the verify pass removes the LSH
    false positives before anything is deleted.

    Scale: the exact pass touches only candidate pairs (linear in LSH
    output, not corpus²); shingle arrays join in by doc id on a set
    orders of magnitude smaller than the corpus."""
    cands = minhash_candidates(spark, sf_dir, n=n)
    docs = load_table(spark, sf_dir, "documents")
    sh_tbl = docs.select(
        "doc_id",
        F.filter(shingles(F.col("text"), n), lambda s: F.length(s) > 0).alias("sh"),
    )
    a = sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= verify_threshold)
        .select("doc_a", "doc_b", "est_jaccard", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination detection: which held-out benchmark
    documents appear verbatim in the training corpus — the dedup-family
    check every LLM training pipeline runs before reporting eval numbers.

    The corpus ships no benchmark set, so one is planted (every doc_id %
    17 == 0 becomes an 'eval' doc whose text is by construction also in
    training).  Exact overlap = equi-join on sha2 fingerprints: shuffles
    32-byte digests only, never text — same 100 TB shape as exact dedup;
    at scale the small benchmark side broadcasts.  Near-miss
    contamination (paraphrase) is the ngram_jaccard/minhash path run with
    the benchmark as one side.
    """
    docs = load_table(spark, sf_dir, "documents")
    train = docs.select("doc_id", "lang", F.sha2("text", 256).alias("fp"))
    benchmark = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(
            (F.col("doc_id") + 2_000_000).alias("eval_id"),
            F.sha2("text", 256).alias("fp"),
        )
    )
    hits = train.join(F.broadcast(benchmark), "fp").select("lang", "eval_id", "doc_id")
    return (
        hits.groupBy("lang")
        .agg(
            F.countDistinct("eval_id").alias("n_contaminated_eval"),
            F.count(F.lit(1)).alias("n_train_matches"),
            F.min("doc_id").alias("first_train_doc"),
        )
        .orderBy("lang")
    )


#: Appended-drift suffix for the planted near-duplicate batch docs —
#: identical literal embedded in the DuckDB oracle.
_DRIFT_SUFFIX = " drifted extra tokens appended here"


#: Number of (k1 mod _DEDUP_INDEX_KB) sub-directories per band in the
#: persisted dedup index — bounds the partition count at n_bands × 64
#: while still letting a small daily batch prune most of the corpus bands.
_DEDUP_INDEX_KB = 64


def minhash_band_rows(sigs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """Explode (doc_id, sig) into LSH band rows (doc_id, band_no, k1, k2)
    — the banding kernel shared by the inline probe and the persisted
    index build, so both sides bucket identically by construction."""
    n_bands = n_hashes // MINHASH_BAND_ROWS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_no"),
                F.col("sig")[2 * b].alias("k1"),
                F.col("sig")[2 * b + 1].alias("k2"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", "bk.band_no", "bk.k1", "bk.k2"
    )


def planted_ingest_batch(docs: DataFrame) -> DataFrame:
    """The synthetic daily-ingest batch with known composition (the test
    corpus ships none): verbatim copies (doc_id%10==0 → exact drops),
    drift copies with an appended suffix (%10==3 → survive exact, caught
    by minhash), fresh synthetic docs (%10==7 → admitted).  Shared by
    the inline and index-probe incremental paths and mirrored by the
    DuckDB oracle."""
    new_id = (F.col("doc_id") + 3_000_000).alias("doc_id")
    return (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(new_id, "text", "lang")
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 3).select(
                new_id, F.concat(F.col("text"), F.lit(_DRIFT_SUFFIX)).alias("text"), "lang"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 7).select(
                new_id,
                F.concat(F.lit("fresh doc "), F.col("doc_id").cast("string")).alias(
                    "text"
                ),
                "lang",
            )
        )
    )


def build_dedup_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n: int = 3,
    n_hashes: int = N_MINHASH,
) -> None:
    """Persist the corpus side of incremental dedup — the 100 TB shape,
    mirroring :func:`similarity.build_ann_index`: hash the settled corpus
    ONCE per corpus version, then every daily batch probes the stored
    relations instead of re-hashing (and re-broadcasting) the corpus.

    Layout under ``index_dir``:
      fingerprints/  distinct sha256 content digests (exact pass).
      signatures/    (doc_id, sig) minhash signatures (verify re-join).
      bands/         (doc_id, k1, k2) partitioned by (band_no, kb) where
                     kb = k1 mod 64 — at most n_bands × 64 directories, so
                     a small batch's probe prunes to the band keys it
                     actually hits (PartitionFilters, asserted in tests).

    All hashes are md5/data-derived, so an index built today and a probe
    run tomorrow agree bit-for-bit with the inline one-shot form."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs.select(F.sha2("text", 256).alias("fp")).distinct().write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/fingerprints")
    sigs = minhash_signatures(fan_out(docs), n=n, n_hashes=n_hashes)
    sigs.write.mode("overwrite").parquet(f"{index_dir}/signatures")
    # derive bands from the PERSISTED signatures: the build reads the tiny
    # signature table back instead of re-running the shingle+md5 pass
    stored_sigs = spark.read.parquet(f"{index_dir}/signatures")
    # cluster on the partition key first: bounds the band-index layout
    # at one file per (band_no, kb) dir instead of tasks × dirs (§6)
    minhash_band_rows(stored_sigs, n_hashes).withColumn(
        "kb", (F.col("k1") % _DEDUP_INDEX_KB).cast("int")
    ).repartition("band_no", "kb").write.mode("overwrite").partitionBy(
        "band_no", "kb"
    ).parquet(f"{index_dir}/bands")


def _incremental_funnel(
    batch: DataFrame,
    corpus_fp: DataFrame,
    old_sigs: DataFrame,
    old_bands: DataFrame,
    n: int,
    n_hashes: int,
    jaccard_threshold: float,
    prune_partitions: bool = False,
) -> DataFrame:
    """The shared new-vs-old admission funnel: exact fingerprint pass →
    one-sided minhash band probe → per-lang stats.  ``old_bands`` must
    carry (doc_id, band_no, k1, k2[, kb]); with ``prune_partitions`` the
    new side's distinct (band_no, kb) keys — at most n_bands × 64 values,
    a bounded driver-side collect — become a partition-pruning filter on
    the stored band relation before the equi-join."""
    # exact pass: plain shuffle join on the 32-byte digest.  NO broadcast
    # hint: the corpus fingerprint set is O(corpus) — at 100 TB it cannot
    # ship to every executor (AQE still auto-broadcasts genuinely small
    # corpora on its own).
    # persist both O(batch) frames: batch feeds the fp derivation plus
    # the per-lang denominator, and survivors feeds the signature build,
    # the near-dropped semi-join, AND the admitted anti-join —
    # unmaterialized, each consumer re-ran the caller's batch synthesis
    # and the exact join (the inline form scanned documents 28×; §5)
    batch = persist_tracked(batch)
    batch_fp = batch.withColumn("fp", F.sha2("text", 256))
    exact_dropped = batch_fp.join(corpus_fp, "fp", "left_semi")
    survivors = persist_tracked(
        batch_fp.join(corpus_fp, "fp", "left_anti").drop("fp")
    )

    # batch-side signatures: O(batch) hashing, persisted — feeds the band
    # explosion AND the est re-join (cache released by the session owner
    # via caching.release_tracked()).
    new_sigs = persist_tracked(
        minhash_signatures(fan_out(survivors), n=n, n_hashes=n_hashes)
    )
    new_bands = minhash_band_rows(new_sigs, n_hashes)

    if prune_partitions:
        new_bands = new_bands.withColumn(
            "kb", (F.col("k1") % _DEDUP_INDEX_KB).cast("int")
        )
        # bounded collect: ≤ n_bands × 64 composite keys, never data-sized
        hit_keys = [
            r.band_no * _DEDUP_INDEX_KB + r.kb
            for r in new_bands.select("band_no", "kb").distinct().collect()
        ]
        old_bands = old_bands.filter(
            (F.col("band_no") * _DEDUP_INDEX_KB + F.col("kb")).isin(hit_keys)
        )
        join_keys = ["band_no", "kb", "k1", "k2"]
    else:
        join_keys = ["band_no", "k1", "k2"]

    cand = (
        new_bands.withColumnRenamed("doc_id", "new_id")
        .join(old_bands.withColumnRenamed("doc_id", "old_id"), join_keys)
        .select("new_id", "old_id")
        .distinct()
    )
    sig_new = new_sigs.select(F.col("doc_id").alias("new_id"), F.col("sig").alias("sig_n"))
    sig_old = old_sigs.select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_o"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_n"), F.col("sig_o"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    near_ids = (
        cand.join(sig_new, "new_id")
        .join(sig_old, "old_id")
        .withColumn("est", matches / F.lit(float(n_hashes)))
        .filter(F.col("est") >= jaccard_threshold)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    near_dropped = survivors.join(near_ids, "doc_id", "left_semi")
    admitted = survivors.join(near_ids, "doc_id", "left_anti")

    def per_lang(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("lang").agg(F.count(F.lit(1)).alias(name))

    return (
        per_lang(batch, "n_batch")
        .join(per_lang(exact_dropped, "n_exact_dropped"), "lang", "left")
        .join(per_lang(near_dropped, "n_near_dropped"), "lang", "left")
        .join(per_lang(admitted, "n_admitted"), "lang", "left")
        .select(
            "lang",
            "n_batch",
            F.coalesce("n_exact_dropped", F.lit(0)).alias("n_exact_dropped"),
            F.coalesce("n_near_dropped", F.lit(0)).alias("n_near_dropped"),
            F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
        )
        .orderBy("lang")
    )


def incremental_dedup_stats(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    n_hashes: int = N_MINHASH,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental (daily-ingest) dedup: admit a NEW batch against an
    EXISTING corpus — the production shape, where yesterday's corpus is
    settled and only new-vs-old comparisons run:

      exact pass  batch anti-join on content fingerprint vs the corpus
                  (digest-only shuffle, same as exact dedup).
      near pass   minhash band join restricted to new-side × old-side —
                  the one-sided LSH probe: old×old pairs are never
                  generated.

    This inline form (the gate/oracle query) hashes the corpus side in
    the same run — O(corpus) once, fine for a one-shot.  The production
    daily loop is :func:`build_dedup_index` once per corpus version +
    :func:`probe_dedup_index` per batch: O(batch) hashing per day,
    row-identical output (asserted in tests).

    Batch composition and determinism: see :func:`planted_ingest_batch`;
    the driver hash-checks the full funnel per lang."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    batch = planted_ingest_batch(docs)
    # persist: the digest set feeds both the exact semi- and anti-joins;
    # 32-byte digests only (the indexed path reads it from parquet)
    corpus_fp = persist_tracked(
        docs.select(F.sha2("text", 256).alias("fp")).distinct()
    )
    old_sigs = persist_tracked(
        minhash_signatures(fan_out(docs), n=n, n_hashes=n_hashes)
    )
    old_bands = minhash_band_rows(old_sigs, n_hashes)
    return _incremental_funnel(
        batch, corpus_fp, old_sigs, old_bands, n, n_hashes, jaccard_threshold
    )


def probe_dedup_index(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    n: int = 3,
    n_hashes: int = N_MINHASH,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Admit a new batch against a PERSISTED corpus index (see
    :func:`build_dedup_index`) — the O(batch)-per-day production path:
    only the batch is hashed; the corpus fingerprints, signatures, and
    band buckets stream from parquet, with the band scan pruned to the
    (band_no, kb) partitions the batch actually hits.  Row-identical to
    the inline :func:`incremental_dedup_stats` by construction (same
    kernels both sides); asserted in tests."""
    corpus_fp = spark.read.parquet(f"{index_dir}/fingerprints")
    old_sigs = spark.read.parquet(f"{index_dir}/signatures")
    old_bands = spark.read.parquet(f"{index_dir}/bands")
    return _incremental_funnel(
        batch,
        corpus_fp,
        old_sigs,
        old_bands,
        n,
        n_hashes,
        jaccard_threshold,
        prune_partitions=True,
    )


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, components: DataFrame | None = None
) -> DataFrame:
    """End-to-end near-dup clustering: banded SimHash pairs → connected
    components → cluster summary.  Deterministic end-to-end (md5-based
    simhash + min-label components), so the driver oracle-checks it via a
    recursive-CTE connected components in DuckDB.

    ``components=`` takes a precomputed labeling (the nightly
    :func:`shared_components` parquet) so production consumers pay only
    the cluster rollup, not a fresh pair+CC pass per query — the same
    reuse contract as source_dup_attribution / cluster_aware_split."""
    if components is None:
        docs = load_table(spark, sf_dir, "documents")
        pairs = simhash_near_pairs_for(docs, sort=False)
        comps = connected_components(pairs)
    else:
        comps = components
    return (
        comps.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("canonical_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("cluster_size") >= 2)
        .orderBy(F.desc("cluster_size"), F.asc("cluster_id"))
    )


def near_dup_clusters_reused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`near_dup_clusters`: loads the
    parquet-backed nightly labeling (:func:`shared_components`) —
    identical output by the ``components=`` reuse contract, same oracle;
    benches the marginal cluster-rollup cost of the real nightly
    contract instead of a fresh pair+CC pass."""
    return near_dup_clusters(
        spark, sf_dir, components=shared_components(spark, sf_dir)
    )


def novelty_profile(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """N-gram novelty of the EVAL split against the TRAIN split: per
    eval document, the fraction of its distinct 5-gram shingles that
    never occur in any train document, rolled up per lang — the
    complement of contamination_check (which counts exact copies): low
    novelty means the eval set rehearses training text even where no
    document is a verbatim duplicate, and a benchmark with ~zero novel
    grams measures memorization, not capability.

    Split: doc_id % 5 == 0 is eval, the rest train (the driver corpus
    has no split column; a real run passes its own frames).

    Scale: the train side reduces to a DISTINCT set of 16-hex shingle
    hashes (digest-only shuffle, same key discipline as the span index);
    eval grams probe it with one hash-keyed left join — O(train) +
    O(eval grams), never eval x train, and no shingle text ever
    shuffles.  Per-doc and per-lang rollups group on keys the probe
    already shuffled by.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(shingles(F.col("text"), n)).alias("g"),
        )
        .filter(F.length("g") > 0)
        .select("doc_id", "lang", F.substring(F.md5("g"), 1, 16).alias("h"))
    )
    train = (
        grams.filter(F.col("doc_id") % 5 != 0).select("h").distinct()
        .withColumn("seen", F.lit(1))
    )
    per_doc = (
        grams.filter(F.col("doc_id") % 5 == 0)
        .join(train, "h", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_novel").cast("long").alias("total_novel"),
            F.round(F.avg(F.col("n_novel") / F.col("n_grams")), 4).alias(
                "avg_novelty"
            ),
        )
        .orderBy("lang")
    )


def incremental_components_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`update_components` as a gate query: treat pairs whose
    endpoints are both ``doc_id % 5 != 0`` as the settled OLD graph,
    pairs touching a ``doc_id % 5 == 0`` vertex as the daily DELTA, fold
    the delta into the prior labeling (old singletons included — the
    full-cover contract), and report the cluster-size histogram of the
    folded labeling.

    By the star-equivalence argument (see :func:`update_components`;
    folded ≡ full recompute is also directly test-pinned) the histogram
    must equal a full CC recompute over ALL pairs — which is exactly
    what the DuckDB oracle runs, so the fold's correctness is what the
    hash match proves.  Size-1 rows are excluded (the fold and the
    recompute cover singletons differently by construction; clusters
    are the meaningful output).

    Scale: one banded pair generation (persist_tracked — both the
    old/delta splits read it), one CC over the old graph, one bounded
    fold.  The production shape replaces the old-graph CC with the
    PERSISTED labeling of the previous run; the gate recomputes it only
    because the driver corpus ships no prior state."""
    from project_bigdata_recsys_spark.caching import persist_tracked
    from project_bigdata_recsys_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    all_pairs = persist_tracked(simhash_near_pairs_for(docs, sort=False))
    old_pairs = all_pairs.filter(
        ((F.col("doc_a") % 5) != 0) & ((F.col("doc_b") % 5) != 0)
    )
    delta = all_pairs.filter(
        ((F.col("doc_a") % 5) == 0) | ((F.col("doc_b") % 5) == 0)
    )
    prior = connected_components(old_pairs)
    old_ids = docs.filter((F.col("doc_id") % 5) != 0).select("doc_id")
    singles = old_ids.join(prior, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    folded = update_components(prior.unionByName(singles), delta)
    sizes = (
        folded.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.min("cluster_id").alias("min_cluster_id"),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "min_cluster_id",
        )
        .orderBy("cluster_size")
    )


def fuzzy_name_matches(
    spark: SparkSession, sf_dir: str, max_dist: int = 2, top: int = 50
) -> DataFrame:
    """Entity-resolution fuzzy join: distinct part names within
    Levenshtein distance ``max_dist`` of each other, with each name's
    catalog mass — the dirty-dimension reconciliation every warehouse
    eventually needs ('blue bolt' vs 'blue bolts').

    Scale shape, TWO intersected blocking keys before any pair forms:

    - length band (floor(len / (max_dist+1)), each name emitted to its
      own and the next band): edit distance ≤ d implies length
      difference ≤ d, which confines every qualifying pair to
      equal-or-adjacent bands;
    - q-gram prefix filter (ED-Join, Xiao et al., VLDB'08): an edit
      destroys at most q distinct q-gram contents, so two names within
      distance d share a q-gram among each side's d·q+1 RAREST grams
      under a global (frequency, gram) order.  Names with ≤ 2·d·q
      distinct grams also emit a wildcard key — when one side of a pair
      has ≤ d·q grams the counting bound is vacuous, and its partner
      then has ≤ 2·d·q, so both carry the wildcard (recall-exact).

    Length banding alone leaves |band|² candidates, and real name
    corpora concentrate mass in a few lengths (r6 advisory); the gram
    intersection bounds each block by its (band, rare-gram) population.
    Distance is evaluated post-join on the candidate set only; integer
    arithmetic end to end (oracle-exact)."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        fuzzy_name_candidates(names, max_dist)
        .withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b"))
        )
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
        .orderBy("dist", "name_a", "name_b")
        .limit(top)
    )


def fuzzy_name_candidates(names: DataFrame, max_dist: int = 2) -> DataFrame:
    """Candidate pairs for :func:`fuzzy_name_matches` AFTER both blocking
    keys but BEFORE the Levenshtein verify — factored out so tests can
    assert the blocking actually bounds candidate volume (the r6
    advisory: length bands alone leave |band|^2 on same-length-heavy
    corpora).  ``names``: (p_name, n_parts)."""
    from pyspark.sql import Window

    width = max_dist + 1
    banded = names.select(
        "p_name",
        "n_parts",
        F.explode(
            F.array(
                F.floor(F.length("p_name") / width).cast("long"),
                F.floor(F.length("p_name") / width).cast("long") + 1,
            )
        ).alias("band"),
    ).dropDuplicates(["p_name", "band"])

    q = 3
    prefix_k = max_dist * q + 1
    grams = names.select(
        "p_name",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length(p_name) - {q - 1}, 1)),"
                    f" i -> substring(p_name, i, {q}))"
                )
            )
        ).alias("g"),
    )
    from project_bigdata_recsys_spark.caching import persist_tracked

    gfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("gf"))
    # persist: ranked feeds the prefix-key filter AND the wildcard
    # filter; blocked feeds both self-join sides — unmaterialized, the
    # gram/frequency/window chain re-ran per consumer (10 part scans in
    # fuzzy_name_matches; guide §5).  Both frames are |names|-bounded.
    ranked = persist_tracked(
        grams.join(gfreq, "g").select(
            "p_name",
            "g",
            F.row_number()
            .over(Window.partitionBy("p_name").orderBy("gf", "g"))
            .alias("__rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("p_name"))
            .alias("__ng"),
        )
    )
    keys = ranked.filter(F.col("__rn") <= prefix_k).select("p_name", "g")
    wildcard = (
        ranked.filter(F.col("__ng") <= 2 * max_dist * q)
        .select("p_name", F.lit("\x00").alias("g"))
        .distinct()
    )
    blocked = persist_tracked(
        banded.join(keys.unionByName(wildcard), "p_name")
    )

    a = blocked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "band",
        "g",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "band",
        "g",
    )
    return (
        a.join(b, ["band", "g"])
        .filter(F.col("name_a") < F.col("name_b"))
        .dropDuplicates(["name_a", "name_b"])
    )


_CC_LABELING: dict[tuple[str, str], str] = {}


def shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash-CC labeling of the documents corpus, built ONCE per
    (session, sf), WRITTEN TO PARQUET, and read back — the production
    contract where a nightly dedup job persists the labeling and every
    downstream consumer (attribution, leakage-safe split, incremental
    fold) LOADS it instead of re-running pair generation + CC.  Disk
    (not persist()) because connected_components localCheckpoints its
    iteration state, and checkpoint blocks are non-recomputable once a
    cache sweep drops them; a parquet round-trip is sweep-proof and is
    what the real contract does anyway.  The gate forms of those
    consumers recompute only because the driver corpus ships no prior
    state; the ``_reused`` query variants bench the marginal cost."""
    import os
    from project_bigdata_recsys_spark.caching import scratch_dir

    from project_bigdata_recsys_spark.catalog import load_table

    key = (spark.sparkContext.applicationId, sf_dir)
    # revalidate: the memoized dir may have been purged (scratch tier is
    # process-shared state) — a stale path must rebuild, not fail
    if key not in _CC_LABELING or not os.path.exists(_CC_LABELING[key]):
        path = os.path.join(
            scratch_dir(prefix="spark_cc_labeling_"), "components"
        )
        # derive the pair set from the persisted band index instead of
        # re-running simhash_features over the corpus: the index stores
        # exactly the capped (doc_id, simhash, band_no, k) rows the
        # inline generator explodes, so the expensive fingerprint pass
        # (tokenize + md5-per-token + 64 vote sums) runs ONCE per
        # session across the two shared artifacts (guide §5 — the r15
        # tier paid it twice; measured ~10 s of the 20.7 s build)
        bands = spark.read.parquet(
            shared_simhash_bands(spark, sf_dir)
        ).select("doc_id", "simhash", "band_no", "k")
        connected_components(
            _simhash_pairs_from_bands(bands)
        ).write.mode("overwrite").parquet(path)
        _CC_LABELING[key] = path
    return spark.read.parquet(_CC_LABELING[key])


def _simhash_pairs_from_bands(
    bands: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Banded near-dup pairs from ALREADY-MATERIALIZED (doc_id, simhash,
    band_no, k) rows — the tail of :func:`simhash_near_pairs_for` with
    the fingerprint+explode subtree replaced by the stored band index
    (which applied the same DEFAULT_MAX_BAND_KEY_DOCS cap at build
    time).  Identical pair set: groups of one produce no pairs, so the
    stored singleton rows only re-filter out here."""
    doc_lists = (
        bands.groupBy("band_no", "k")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    cands = (
        bucket_pairs(doc_lists, ["band_no", "k"])
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.a.simhash").alias("sim_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    return (
        cands.withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


_SIMHASH_BANDS: dict[tuple[str, str], str] = {}


def shared_simhash_bands(spark: SparkSession, sf_dir: str) -> str:
    """Persisted SIMHASH band index of the documents corpus — the
    simhash twin of :func:`build_dedup_index`'s minhash band relation:
    (doc_id, simhash, band_no, k) rows, written ONCE per (session, sf),
    partitioned by (band_no, kb = k % 64) so a small batch's probe
    prunes to the band keys it actually hits.  Band-key groups larger
    than DEFAULT_MAX_BAND_KEY_DOCS are dropped AT BUILD TIME — the same
    degenerate-key cap the inline pair generator applies, moved to the
    one-time index write.  Returns the parquet path."""
    import os
    from project_bigdata_recsys_spark.caching import scratch_dir

    from project_bigdata_recsys_spark.catalog import load_table

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SIMHASH_BANDS or not os.path.exists(
        _SIMHASH_BANDS[key]
    ):
        docs = load_table(spark, sf_dir, "documents")
        sh = simhash_features(docs)
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(band).alias("band_no"),
                    F.shiftrightunsigned(F.col("simhash"), band * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("k"),
                )
                for band in range(4)
            ]
        )
        bands = sh.select(
            "doc_id", "simhash", F.explode(band_structs).alias("bk")
        ).select("doc_id", "simhash", F.col("bk.band_no"), F.col("bk.k"))
        counts = bands.groupBy("band_no", "k").agg(
            F.count(F.lit(1)).alias("__n")
        )
        path = os.path.join(
            scratch_dir(prefix="spark_simhash_bands_"), "bands"
        )
        (
            bands.join(counts, ["band_no", "k"])
            .filter(F.col("__n") <= DEFAULT_MAX_BAND_KEY_DOCS)
            .withColumn("kb", (F.col("k") % 64).cast("int"))
            .select("doc_id", "simhash", "band_no", "k", "kb")
            .write.mode("overwrite")
            .partitionBy("band_no", "kb")
            .parquet(path)
        )
        _SIMHASH_BANDS[key] = path
    return _SIMHASH_BANDS[key]


def incremental_components_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`incremental_components_profile`: the
    prior labeling is LOADED (the parquet-backed shared labeling
    standing in for the previous run's table), and the daily delta —
    docs with ``doc_id % 5 == 0`` standing in for today's batch — is
    hashed O(batch) and PROBED against the persisted simhash band index
    (:func:`shared_simhash_bands`), never re-hashing the corpus.  No
    prior-state CC reconstruction and no corpus-side pair generation,
    which is what the gate form's 23 s mostly paid for.  Folding edges
    the loaded labeling already accounts for is a no-op by
    star-equivalence, so the histogram is identical to the full
    recompute and the query shares ``incremental_components``'s oracle
    verbatim (the fold ≡ recompute contract itself is pinned by
    test_update_components_*)."""
    from project_bigdata_recsys_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    labeled = shared_components(spark, sf_dir)
    singles = docs.select("doc_id").join(
        labeled, "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    prior = labeled.unionByName(singles)

    # O(batch) delta: hash only the batch docs, probe the stored bands
    delta_docs = docs.filter((F.col("doc_id") % 5) == 0)
    delta_sh = simhash_features(delta_docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_no"),
                F.shiftrightunsigned(F.col("simhash"), band * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("k"),
            )
            for band in range(4)
        ]
    )
    delta_bands = delta_sh.select(
        F.col("doc_id").alias("doc_new"),
        F.col("simhash").alias("sim_new"),
        F.explode(band_structs).alias("bk"),
    ).select(
        "doc_new",
        "sim_new",
        F.col("bk.band_no"),
        F.col("bk.k"),
        (F.col("bk.k") % 64).cast("int").alias("kb"),
    )
    stored = spark.read.parquet(shared_simhash_bands(spark, sf_dir))
    cand = (
        delta_bands.join(stored, ["band_no", "kb", "k"])
        .filter(F.col("doc_new") != F.col("doc_id"))
        .select(
            F.least("doc_new", "doc_id").alias("doc_a"),
            F.greatest("doc_new", "doc_id").alias("doc_b"),
            F.when(F.col("doc_new") < F.col("doc_id"), F.col("sim_new"))
            .otherwise(F.col("simhash"))
            .alias("sim_a"),
            F.when(F.col("doc_new") < F.col("doc_id"), F.col("simhash"))
            .otherwise(F.col("sim_new"))
            .alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    delta = cand.filter(
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= 3
    ).select("doc_a", "doc_b")
    folded = update_components(prior, delta)
    sizes = (
        folded.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.min("cluster_id").alias("min_cluster_id"),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            "min_cluster_id",
        )
        .orderBy("cluster_size")
    )


def url_canonical_dedup(
    spark: SparkSession, sf_dir: str, n_domain_buckets: int = 40
) -> DataFrame:
    """URL canonicalization dedup — the C4/CCNet-style collapse of
    syntactically-different-but-same-page URLs BEFORE any content
    dedup runs: scheme and www. stripped, host lowercased, tracking
    parameters (utm_*) dropped, trailing slashes removed.  Whole
    families of crawl duplicates disappear for the cost of a string
    map + one digest-style groupBy — no shingles, no hashing layers.

    The corpus carries no URL column, so a deterministically messy URL
    is synthesized per doc from PK-derived md5-uniform draws (the
    planted-data discipline, same recipe as domain_quota_sample):
    scheme, www-prefix, host case, trailing slash, and a utm tracking
    suffix each vary independently, so the canonicalizer has real work
    that the oracle replays draw-for-draw.

    Canonicalization is pure per-row regexp (narrow map, Tungsten) —
    at 100 TB this pushes into the scan with zero shuffle; the only
    shuffle is the canonical-key count.

    Output per source: n_docs, n_raw_urls, n_canonical_urls,
    n_collapsed, collapse_frac."""
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    def u(salt: str):
        return hash_uniform(F.col("doc_id"), salt)

    host_idx = F.floor(u("url:") * u("url:") * n_domain_buckets).cast("long")
    host = F.concat(
        F.lit("site"), host_idx.cast("string"), F.lit(".example.com")
    )
    host = F.when(u("case:") < 0.2, F.upper(host)).otherwise(host)
    host = F.when(
        u("www:") < 0.3, F.concat(F.lit("www."), host)
    ).otherwise(host)
    raw = F.concat(
        F.when(u("scheme:") < 0.5, F.lit("http://")).otherwise(
            F.lit("https://")
        ),
        host,
        F.lit("/page/"),
        F.pmod(F.col("doc_id"), F.lit(20)).cast("string"),
        F.when(u("slash:") < 0.3, F.lit("/")).otherwise(F.lit("")),
        F.when(
            u("utm:") < 0.4,
            F.lit("?utm_source=feed&utm_campaign=x"),
        ).otherwise(F.lit("")),
    )
    canon = F.lower(raw)
    canon = F.regexp_replace(canon, r"^https?://", "")
    canon = F.regexp_replace(canon, r"^www\.", "")
    canon = F.regexp_replace(canon, r"\?utm_[a-z_=&]*$", "")
    canon = F.regexp_replace(canon, r"/+$", "")
    urls = docs.select("source", raw.alias("raw_url"), canon.alias("c_url"))
    return (
        urls.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_urls"),
            F.countDistinct("c_url").cast("long").alias("n_canonical_urls"),
            (F.countDistinct("raw_url") - F.countDistinct("c_url"))
            .cast("long")
            .alias("n_collapsed"),
            F.round(
                (F.countDistinct("raw_url") - F.countDistinct("c_url"))
                / F.countDistinct("raw_url").cast("double"),
                6,
            ).alias("collapse_frac"),
        )
        .orderBy("source")
    )


LSH_SWEEP_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]


def lsh_band_sweep(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """MinHash-LSH band-configuration sweep — the S-curve tuning audit
    run BEFORE committing a (bands × rows) choice: from ONE 16-hash
    signature frame, every config's candidate volume, hot-bucket count,
    and mean estimated Jaccard come out side by side, next to the
    config's theoretical 50%-collision threshold (1/b)^(1/r).  More
    rows per band → higher precision, fewer candidates; the sweep shows
    where the knee sits on THIS corpus instead of trusting the formula.

    Cost shape (single-pass, round 10): the signatures (the expensive
    text scan + md5 pass) are computed once and persisted; every
    config's band keys come out of ONE explode tagged with the config
    id, so the whole sweep is ONE bucket groupBy shuffle, ONE hybrid
    pair generation (the bucket_pairs kernel with the config carried
    through — never all-pairs), ONE per-config DISTINCT, and ONE
    signature re-join, instead of the pre-r10 plan's four of each
    (measured 7.1 s → ~3 s at sf0.1).  Configs that produce no hot
    buckets at tiny SFs still emit their row via the broadcast config
    frame.  All arithmetic is the integer minhash family, so the sweep
    hash-checks outright.

    Output per config: n_bands, rows_per_band, threshold_50 (frozen
    Python literal), n_hot_buckets, n_candidate_pairs,
    avg_est_jaccard."""
    from project_bigdata_recsys_spark.caching import persist_tracked

    sigs = shared_minhash_signatures(spark, sf_dir, n=n)
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sb"))
    band_structs = [
        F.struct(
            F.lit(b_cnt).alias("n_bands"),
            F.lit(i).alias("band_no"),
            F.slice("sig", i * r + 1, r).alias("key"),
        )
        for b_cnt, r in LSH_SWEEP_CONFIGS
        for i in range(b_cnt)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.n_bands").alias("n_bands"),
        F.col("bk.band_no").alias("band_no"),
        F.col("bk.key").alias("key"),
    )
    hot = bands.groupBy("n_bands", "band_no", "key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    ).filter(F.size("ds") >= 2)
    hot = persist_tracked(hot)  # 2 consumers: hot-bucket count, pair gen
    n_hot = hot.groupBy("n_bands").agg(
        F.count(F.lit(1)).cast("long").alias("n_hot_buckets")
    )
    pairs = (
        bucket_pairs(
            hot, ["n_bands", "band_no", "key"], carry=["n_bands"]
        )
        .select(
            "n_bands",
            F.col("p.a").alias("a"),
            F.col("p.b").alias("b"),
        )
        .distinct()
    )
    pair_agg = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "n_bands",
            F.aggregate(
                F.zip_with("sa", "sb", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, m: acc + m,
            ).alias("matches"),
        )
        .groupBy("n_bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.sum("matches").cast("long").alias("__sm"),
        )
    )
    configs = spark.createDataFrame(
        [
            (b_cnt, r, round((1.0 / b_cnt) ** (1.0 / r), 6))
            for b_cnt, r in LSH_SWEEP_CONFIGS
        ],
        "n_bands long, rows_per_band long, threshold_50 double",
    )
    return (
        configs
        .join(n_hot, "n_bands", "left")
        .join(pair_agg, "n_bands", "left")
        .select(
            "n_bands",
            "rows_per_band",
            "threshold_50",
            F.coalesce(F.col("n_hot_buckets"), F.lit(0))
            .cast("long")
            .alias("n_hot_buckets"),
            F.coalesce(F.col("n_candidate_pairs"), F.lit(0))
            .cast("long")
            .alias("n_candidate_pairs"),
            F.when(
                F.col("n_candidate_pairs") > 0,
                F.round(F.col("__sm") / (16.0 * F.col("n_candidate_pairs")), 6),
            ).alias("avg_est_jaccard"),
        )
        .orderBy(F.desc("n_bands"))
    )


def sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str, window: int = 3, max_dist: int = 2
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo's
    merge/purge): sort records on a domain key and compare each record
    only with its ``window − 1`` successors — the THIRD blocking
    strategy in the entity-resolution family, with a candidate bound of
    (w−1)·n that is independent of block-size skew (fuzzy_name_matches'
    length-band × rare-gram blocks and the minhash bands both degrade
    on hot blocks; SN cannot).  The sort is distributed: records
    partition by their leading token (the SN key's first component),
    and the sliding window is a per-block lead() — no global sort.

    Planted-data discipline (the url_canonical_dedup precedent): the
    corpus's part vocabulary has no true near-duplicates, so
    deterministic plural-typo variants (name || 's' for md5-selected
    names) are planted; the operator must place every variant adjacent
    to its original in sort order and verify it at Levenshtein 1.

    Exactness: candidates are a pure function of the sort order (total
    order on name, deterministic); verification is integer Levenshtein
    on both engines."""
    cand = sn_candidates(spark, sf_dir, window)
    return (
        cand.filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
        .orderBy("dist", "name_a", "name_b")
        .limit(50)
    )


def sn_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sorted-neighborhood record set: distinct part names with
    their counts plus the deterministic planted plural-typo variants —
    shared by sorted_neighborhood_pairs (the candidate readout) and
    golden_record_fusion (the survivorship readout)."""
    from project_bigdata_recsys_spark.caching import persist_tracked

    part = load_table(spark, sf_dir, "part")
    # persist: names feeds the union base, the planted-variant filter,
    # AND the collision anti-join — unmaterialized, every consumer
    # re-scans part and re-runs the name rollup (3 part scans per
    # sn_records call; guide §5).  |distinct part names| rows, small.
    names = persist_tracked(
        part.groupBy("p_name").agg(
            F.count(F.lit(1)).cast("long").alias("n_parts")
        )
    )
    planted = names.filter(hash32(F.col("p_name"), "sn:") % 3 == 0).select(
        F.concat(F.col("p_name"), F.lit("s")).alias("p_name"),
        F.lit(0).cast("long").alias("n_parts"),
    )
    # A planted variant that happens to equal a REAL part name would put
    # duplicate p_name rows in the union and fan out every downstream
    # members join (ADVICE r13) — anti-join keeps the real row only.
    # TPC-H vocab has no such collisions today; this guards other data.
    planted = planted.join(names.select("p_name"), "p_name", "left_anti")
    return names.unionByName(planted)


def sn_window_pairs(recs: DataFrame, window: int = 3) -> DataFrame:
    """Sorted-neighborhood adjacency over an arbitrary record frame
    (any frame with a ``p_name`` column): per leading-token block, each
    name pairs with its ``window − 1`` successors in sort order, with
    integer Levenshtein attached.  A pure function of the block's FULL
    membership — which is what lets the streaming fold recompute only
    touched blocks and still converge to the batch adjacency exactly.
    Returns (blk, name_a, name_b, dist)."""
    from pyspark.sql import Window

    blk = F.split(F.col("p_name"), " ").getItem(0)
    w = Window.partitionBy("blk").orderBy("p_name")
    seq = recs.select("p_name", blk.alias("blk"))
    leads = seq.select(
        "p_name",
        "blk",
        *[
            F.lead("p_name", i).over(w).alias(f"n{i}")
            for i in range(1, window)
        ],
    )
    cand = None
    for i in range(1, window):
        c = leads.filter(F.col(f"n{i}").isNotNull()).select(
            "blk",
            F.col("p_name").alias("name_a"),
            F.col(f"n{i}").alias("name_b"),
        )
        cand = c if cand is None else cand.unionByName(c)
    return cand.withColumn(
        "dist", F.levenshtein(F.col("name_a"), F.col("name_b"))
    )


def sn_candidates(
    spark: SparkSession, sf_dir: str, window: int = 3
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (name_a, name_b, dist) with
    integer Levenshtein attached — the shared pair generator."""
    return sn_window_pairs(sn_records(spark, sf_dir), window).select(
        "name_a", "name_b", "dist"
    )


def golden_record_fusion(
    spark: SparkSession, sf_dir: str, link_dist: int = 1
) -> DataFrame:
    """Golden-record survivorship: turn pairwise link decisions into
    FUSED canonical records — the final step of the entity-resolution
    family that none of the pair generators provide (pairs say "these
    two look alike"; a master-data consumer needs ONE surviving record
    per entity with attributes fused by explicit rules).

    Pipeline: sorted-neighborhood candidates at Levenshtein ≤
    ``link_dist`` become link edges over the planted-variant record set
    (sn_records); min-label connected components (the dedup family's CC
    kernel, string labels) group linked names; each component fuses
    deterministically — canonical name = shortest member (ties
    lexicographic), survivor key = min real part key, total part count
    = exact sum, max price in exact cents; planted variants carry NULL
    part attributes and fuse away, which is the point.

    Scale: candidates are the (w−1)·n sorted-neighborhood bound; CC
    runs on the LINKED subgraph only (components here are
    variant-clusters, never corpus-sized); attribute fusion is one
    groupBy over members plus a row_number canonical pick per
    component."""
    edges = (
        sn_candidates(spark, sf_dir)
        .filter(F.col("dist") <= link_dist)
        .select("name_a", "name_b")
    )
    return golden_records_from_edges(spark, sf_dir, edges)


def golden_records_from_edges(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> DataFrame:
    """The survivorship kernel shared by golden_record_fusion (batch
    edges) and the streaming linkage fold (ledger-maintained edges):
    min-label CC over the link edges, then per-component deterministic
    attribute fusion.  Output is a pure function of the edge SET, so
    any maintenance path that converges to the batch edges inherits the
    batch oracle verbatim."""
    from pyspark.sql import Window

    cc = connected_components(edges, a_col="name_a", b_col="name_b").select(
        F.col("doc_id").alias("member_name"),
        F.col("cluster_id").alias("cluster"),
    )
    recs = sn_records(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    stats = part.groupBy("p_name").agg(
        F.min("p_partkey").cast("long").alias("min_key"),
        F.max(F.round(F.col("p_retailprice") * 100).cast("long")).alias(
            "price_cents"
        ),
    )
    members = (
        cc.join(recs, cc.member_name == recs.p_name)
        .join(stats, cc.member_name == stats.p_name, "left")
        .select(
            "cluster",
            F.col("member_name").alias("name"),
            "n_parts",
            "min_key",
            "price_cents",
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.length("name"), F.asc("name")
    )
    canon = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("name").alias("canonical_name"))
    )
    fused = members.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("min_key").cast("long").alias("survivor_partkey"),
        F.sum("n_parts").cast("long").alias("total_parts"),
        F.max("price_cents").cast("long").alias("max_price_cents"),
    )
    return (
        fused.filter(F.col("n_members") >= 2)
        .join(canon, "cluster")
        .select(
            "canonical_name",
            "n_members",
            "survivor_partkey",
            "total_parts",
            "max_price_cents",
        )
        .orderBy("canonical_name")
    )


def dedup_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup manifest diff: which documents survive exact
    dedup in THIS corpus snapshot vs the previous one — the nightly
    question a training-data pipeline asks after every crawl merge
    ("what did the new batch actually add, and which old keepers did
    it displace?").  Composes the exact-dedup keeper rule (min doc_id
    per sha256 fingerprint, `dedup_exact`) with a snapshot split.

    Runs are derived deterministically: the corpus is documents plus
    the standard planted duplicate set (every doc_id % 10 == 0
    re-appears at doc_id + 1,000,000 — the exact_duplicates planting,
    without which the driver corpus has no duplicates and the diff is
    vacuous); the "new batch" is the ~20% of rows whose md5-uniform
    draw (salt ``manifest:``) lands >= 0.8, so the previous snapshot

    PLANTING ASSUMPTION (shared by every +1,000,000 planting oracle in
    this repo, exact_duplicates included): the documents table holds
    < 1M rows per sf, so planted ids never collide with real ones.
    That holds for every shipped sf (sf1 would be ~600k docs); a corpus
    beyond 1M docs needs the offset re-derived from max(doc_id) IN BOTH
    the Spark builder and the SQL oracle — drifting only one side
    breaks parity, which is why the literal convention is kept.  Since
    r12 the assumption is ENFORCED, not just documented: every planting
    site goes through :func:`planted_id`, which raises at scan time on
    the first id at or above the offset.
    is the other ~80%.  Per source, current keepers split into
    retained (same keeper as previous run), displaced (fingerprint
    existed, a new smaller-id copy took over), and new_content
    (fingerprint absent from the previous corpus); arrivals split
    into kept vs deduped-away.

    Scale: two digest-only aggregations over (fingerprint, doc_id) —
    the text never shuffles; the keeper join is fingerprint-keyed; the
    final rollup is #sources rows.  O(corpus) with no self-join."""
    from project_bigdata_recsys_spark.sources.ingest import hash_uniform

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        planted_id("doc_id").alias("doc_id"), "source", "text"
    )
    corpus = docs.unionByName(planted)
    tagged = corpus.select(
        "doc_id",
        "source",
        (hash_uniform(F.col("doc_id"), "manifest:") >= 0.8).alias("is_new"),
        F.sha2("text", 256).alias("fp"),
    )
    tagged = persist_tracked(tagged)  # 3 consumers: prev/curr keepers, arrivals
    prev_k = (
        tagged.filter(~F.col("is_new"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("prev_keeper"))
    )
    curr_k = tagged.groupBy("fp").agg(F.min("doc_id").alias("curr_keeper"))
    keepers = (
        curr_k.join(prev_k, "fp", "left")
        .join(
            tagged.select(F.col("doc_id").alias("curr_keeper"), "source"),
            "curr_keeper",
        )
        .select(
            "source",
            F.when(F.col("prev_keeper").isNull(), "new_content")
            .when(F.col("prev_keeper") == F.col("curr_keeper"), "retained")
            .otherwise("displaced")
            .alias("status"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keepers"),
            F.sum((F.col("status") == "retained").cast("long"))
            .cast("long")
            .alias("n_retained"),
            F.sum((F.col("status") == "displaced").cast("long"))
            .cast("long")
            .alias("n_displaced"),
            F.sum((F.col("status") == "new_content").cast("long"))
            .cast("long")
            .alias("n_new_content"),
        )
    )
    arrivals = (
        tagged.filter(F.col("is_new"))
        .join(
            curr_k.select(F.col("curr_keeper").alias("doc_id")).withColumn(
                "is_keeper", F.lit(1)
            ),
            "doc_id",
            "left",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrivals"),
            F.sum(F.coalesce(F.col("is_keeper"), F.lit(0)))
            .cast("long")
            .alias("n_arrivals_kept"),
        )
    )
    return (
        keepers.join(arrivals, "source", "full")
        .select(
            "source",
            *(
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in (
                    "n_keepers",
                    "n_retained",
                    "n_displaced",
                    "n_new_content",
                    "n_arrivals",
                    "n_arrivals_kept",
                )
            ),
            (
                F.coalesce(F.col("n_arrivals"), F.lit(0))
                - F.coalesce(F.col("n_arrivals_kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_arrivals_deduped"),
        )
        .orderBy("source")
    )


def minhash_calibration_profile(
    spark: SparkSession, sf_dir: str, n: int = 3, n_hashes: int = N_MINHASH
) -> DataFrame:
    """MinHash estimator calibration measured, not assumed — the
    empirical S-curve the band-config sweep (lsh_band_sweep) only
    derives in theory: for every signature-agreement level the LSH
    stage can emit (est = k/n_hashes over the band-collision pairs),
    the EXACT shingle Jaccard of those pairs — pair count, mean exact
    similarity, mean |est − exact|, and the false-positive rate at the
    0.5 verify threshold.  This is the table that tells an index owner
    whether 16 hashes are enough BEFORE anything gets deleted, the same
    measured-not-asserted contract as ann_recall_profile.

    Scale: candidates come from the banded generator (linear, capped
    buckets); the exact pass touches candidate pairs only; every mean
    is micro-frozen before summation; output is ≤ n_hashes+1 rows."""
    cands = minhash_candidates(
        spark, sf_dir, n=n, n_hashes=n_hashes, jaccard_threshold=0.0
    )
    docs = load_table(spark, sf_dir, "documents")
    sh_tbl = docs.select(
        "doc_id",
        F.filter(shingles(F.col("text"), n), lambda s: F.length(s) > 0).alias(
            "sh"
        ),
    )
    a = sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    scored = (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "est_jaccard",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )
    err_micro = F.round(
        F.abs(F.col("est_jaccard") - F.col("jaccard")) * 1e6, 0
    ).cast("long")
    jac_micro = F.round(F.col("jaccard") * 1e6, 0).cast("long")
    return (
        scored.groupBy("est_jaccard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.sum(jac_micro) / 1e6 / F.count(F.lit(1)), 6).alias(
                "mean_exact"
            ),
            F.round(F.sum(err_micro) / 1e6 / F.count(F.lit(1)), 6).alias(
                "mean_abs_err"
            ),
            F.sum(F.when(F.col("jaccard") < 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_below_half"),
            F.round(
                F.sum(F.when(F.col("jaccard") < 0.5, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("fp_rate_at_half"),
        )
        .orderBy("est_jaccard")
    )


def fellegi_sunter_linkage(
    spark: SparkSession, sf_dir: str, m_num: int = 19, m_den: int = 20, top_k: int = 50
) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969): score
    blocked candidate pairs by the sum of per-field log-likelihood
    match weights — the FOURTH entity-resolution strategy in this
    family (fuzzy_name_matches' rare-gram blocks, minhash bands,
    sorted_neighborhood's sliding window are the other three), and the
    one that yields a calibrated SCORE rather than a distance, which
    is what a human-review queue thresholds on.

    Weights: for each compared field j, the agreement weight is
    ln(m/u_j) and the disagreement weight ln((1−m)/(1−u_j)), with the
    match probability m fixed at ``m_num/m_den`` (no labeled pairs in a
    cold-start corpus) and the CHANCE-agreement probability u_j
    computed exactly from the field's value-frequency distribution:
    u_j = Σ_v c_v² / N².  Both ln arguments are a single division of
    exact BIGINTs, each ln is called once per FIELD (six calls total,
    never per pair), frozen to micro units (the lm_dirichlet_scores
    discipline), and every pair score is then an exact BIGINT sum of
    the six frozen weights — ranked with a total order.

    Blocking: candidate pairs share (nation, $1000-balance-band), so
    candidates are Σ_b |b|² over bounded blocks, never N²; balance
    bands are computed on shifted non-negative cents so floor division
    agrees across engines.  Compared fields: market segment, $100
    balance band, name 2-digit suffix.

    Scale: three tiny frequency aggregations → a 1-row broadcast of
    six weights; the block self-join shuffles once on the block key.
    At 100 TB the u-statistics' N² term needs DECIMAL(38)/sampled
    estimation beyond ~3·10⁹ records, and the block key grows a third
    component (e.g. name prefix) to keep |b| bounded — both standard
    FS-at-scale moves, documented here rather than hidden."""
    cust = load_table(spark, sf_dir, "customer")
    recs = cust.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        (
            (F.round(F.col("c_acctbal") * 100).cast("long") + F.lit(100000))
        ).alias("cents_shift"),
        F.substring(F.col("c_name"), -2, 2).alias("suffix2"),
    ).select(
        "c_custkey",
        "nation",
        "segment",
        F.expr("cents_shift div 100000").alias("blk_band"),
        F.expr("cents_shift div 10000").alias("band100"),
        "suffix2",
    )
    n_tot = recs.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def u_stat(col: str, alias: str):
        return (
            recs.groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias(alias))
        )

    # one ln per field x {agree, disagree}, from exact integer ratios
    weights = (
        u_stat("segment", "u_seg")
        .crossJoin(u_stat("band100", "u_band"))
        .crossJoin(u_stat("suffix2", "u_suf"))
        .crossJoin(F.broadcast(n_tot))
    )
    w_cols = []
    for f, u in (("seg", "u_seg"), ("band", "u_band"), ("suf", "u_suf")):
        den = F.col("n") * F.col("n")
        agree = F.log((F.lit(m_num) * den) / (F.lit(m_den) * F.col(u)))
        # a field constant across ALL records has u = n², making the
        # disagreement denominator 0 → ln(inf) poisoning every pair
        # score; GREATEST(...,1) caps the weight instead (ADVICE r13,
        # same guard as the IPF kernel)
        disagree = F.log(
            (F.lit(m_den - m_num) * den)
            / (F.lit(m_den) * F.greatest(den - F.col(u), F.lit(1)))
        )
        w_cols.append(F.round(agree * 1e6).cast("long").alias(f"wa_{f}"))
        w_cols.append(F.round(disagree * 1e6).cast("long").alias(f"wd_{f}"))
    weights = weights.select(*w_cols)

    a = recs.alias("a")
    b = recs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation"))
        & (F.col("a.blk_band") == F.col("b.blk_band"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("custkey_a"),
        F.col("b.c_custkey").alias("custkey_b"),
        (F.col("a.segment") == F.col("b.segment")).alias("g_seg"),
        (F.col("a.band100") == F.col("b.band100")).alias("g_band"),
        (F.col("a.suffix2") == F.col("b.suffix2")).alias("g_suf"),
    )
    scored = pairs.crossJoin(F.broadcast(weights)).select(
        "custkey_a",
        "custkey_b",
        F.concat(
            F.when(F.col("g_seg"), F.lit("1")).otherwise(F.lit("0")),
            F.when(F.col("g_band"), F.lit("1")).otherwise(F.lit("0")),
            F.when(F.col("g_suf"), F.lit("1")).otherwise(F.lit("0")),
        ).alias("pattern"),
        (
            F.when(F.col("g_seg"), F.col("wa_seg")).otherwise(F.col("wd_seg"))
            + F.when(F.col("g_band"), F.col("wa_band")).otherwise(F.col("wd_band"))
            + F.when(F.col("g_suf"), F.col("wa_suf")).otherwise(F.col("wd_suf"))
        )
        .cast("long")
        .alias("score_micro"),
    )
    return scored.orderBy(
        F.desc("score_micro"), F.asc("custkey_a"), F.asc("custkey_b")
    ).limit(top_k)


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    df_cap: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Broder CONTAINMENT near-duplicate detection — the asymmetric
    complement of the Jaccard family: containment(A→B) = |A∩B| / |A|
    finds a document EMBEDDED in another (quotation, truncated mirror,
    boilerplate-wrapped copy) that Jaccard structurally misses (a half
    doc inside a full doc caps Jaccard near 0.5, far below any dedup
    bar, while its containment is ~1.0).

    Candidates come from a df-capped rare-shingle join, NOT minhash
    bands: minhash collision probability tracks JACCARD, so subset
    pairs with low Jaccard rarely band-collide — the standard reason
    containment search keeps its own index.  Pairs sharing at least
    one shingle with document frequency <= ``df_cap`` are candidates
    (Σ df² over capped shingles, never n² — the winnowing pair-join
    bound); exact intersection runs on candidates only.

    Planted data (url_canonical_dedup discipline): the corpus has no
    true subset pairs, so every doc_id % 9 == 0 document re-appears
    truncated to its first half (>= 3 tokens, so shingles exist) under
    the standard +1e6 planted offset — the operator must surface each
    truncation against its original at containment ~1.0.

    Exactness: shingle arrays are DISTINCT on both engines; containment
    and Jaccard are single divisions rounded to 6 dp; ordering is a
    total order on (doc_a, doc_b)."""
    # persist: the shingle frame feeds the rare-df aggregation, the
    # candidate join, and both sides of the exact readout — unpersisted,
    # each consumer re-runs the full corpus shingling (4 extra scans of
    # the documents parquet; guide §5 persist-on-reuse)
    sh_tbl = persist_tracked(containment_shingles(spark, sf_dir, n))
    return containment_from_shingles(sh_tbl, df_cap, threshold)


def containment_shingles(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> DataFrame:
    """The containment fixture: documents plus planted half-doc
    truncations, reduced to (doc_id, distinct-shingle array) — shared
    by containment_pairs (one scan) and stream_containment (per-batch
    shingling into a ledger)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    planted = docs.filter(F.col("doc_id") % 9 == 0).select(
        planted_id("doc_id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(
                toks,
                1,
                F.greatest(
                    (F.size(toks) / 2).cast("int"), F.lit(3)
                ),
            ),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    # fan_out: the sf-scale corpus is ONE parquet split, so the
    # tokenize+3-gram stage otherwise runs on a single core (the
    # minhash_signatures precedent — no-op once the real corpus has
    # >= parallelism splits)
    return fan_out(corpus).select(
        "doc_id",
        F.filter(shingles(F.col("text"), n), lambda s: F.length(s) > 0).alias(
            "sh"
        ),
    ).filter(F.size("sh") > 0)


def containment_from_shingles(
    sh_tbl: DataFrame, df_cap: int = 4, threshold: float = 0.8
) -> DataFrame:
    """The containment readout kernel over a (doc_id, sh) frame —
    values are a pure function of the shingle SETS (array_intersect /
    size are order-independent), so a ledger fold that reconstructs the
    per-doc shingle rows inherits the batch oracle verbatim."""
    # persist: sh_tbl feeds the posting explode plus BOTH exact-verify
    # sides of the readout — inline callers re-ran the corpus
    # shingling three times unmaterialized (guide §5)
    sh_tbl = persist_tracked(sh_tbl)
    exploded = sh_tbl.select("doc_id", F.explode("sh").alias("g"))
    rare = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("g")
    )
    rx = exploded.join(rare, "g")
    return _containment_readout(sh_tbl, rx, threshold)


def _containment_readout(
    sh_tbl: DataFrame, rx: DataFrame, threshold: float
) -> DataFrame:
    """Pair materialization from rare-shingle postings ``rx`` =
    (doc_id, g): self-join on the shingle (Σ df² over the capped
    postings, the winnowing bound) → exact intersection on the full
    shingle arrays.  Shared by the inline kernel (rare computed from
    the same frame) and the persisted-index probe (rare computed from
    the df LEDGER — which is what makes cap-crossing retraction a
    probe-time filter instead of a stored-pair rewrite)."""
    # persist: rx feeds BOTH sides of the candidate self-join; without
    # it each side re-runs the posting derivation (inline: explode +
    # df aggregation + join; probe: postings scan + ledger fold + join)
    rx = persist_tracked(rx)
    cand = (
        rx.alias("a")
        .join(
            rx.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    a = sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    cont = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


#: shingle-hash bucket fan for the containment index postings layout —
#: the bands/kb precedent: a batch probe's distinct (gb) keys become a
#: partition-pruning filter, so small probes read few directories.
_CONTAIN_INDEX_GB = 64


def update_containment_index(
    spark: SparkSession, sh_batch: DataFrame, index_dir: str
) -> None:
    """O(batch) admission of a shingled batch into the persisted
    containment index (VERDICT r14 task 7 — the incremental service
    stream_containment's docstring said an honest implementation would
    need): nothing already indexed is re-read or re-hashed.  Layout:

      postings/   (doc_id, g) partitioned by gb = hash32(g) % 64 —
                  the inverted shingle lists a probe joins against.
      df_ledger/  (g, df_delta) per-batch shingle document-frequency
                  DELTAS; the current global df of any shingle is the
                  ledger fold Σ df_delta, knowable without touching
                  postings.
      docs/       (doc_id, sh) full shingle arrays for the exact
                  intersection pass on surviving candidates.

    The cap-crossing problem — a shingle rare yesterday (df ≤ cap) can
    cross the cap as batches land, invalidating pairs it alone
    supported — is solved by NEVER storing pairs: the index stores
    postings + df deltas, and :func:`probe_containment_index`
    materializes pairs against the CURRENT ledger fold, so a crossed
    shingle is excluded the moment its fold exceeds the cap (implicit
    retraction, no rewrite of anything already on disk)."""
    from concurrent.futures import ThreadPoolExecutor

    # persist: the exploded postings feed the partitioned write AND the
    # df-delta aggregation — unpersisted, the batch is re-shingled and
    # re-exploded per write (guide §5 persist-on-reuse); count() fully
    # materializes the cache ONCE before the concurrent consumers read
    postings = persist_tracked(
        sh_batch.select(
            "doc_id", F.explode("sh").alias("g")
        ).withColumn(
            "gb", (hash32(F.col("g")) % _CONTAIN_INDEX_GB).cast("int")
        )
    )
    postings.count()

    # repartition by the partition column before the partitionBy write:
    # without it every map task emits a file per gb value it sees (up to
    # tasks × 64 tiny files PER WAVE); hash-clustering on gb bounds the
    # layout at 64 files per admission (guide §6 small-files)
    def _write_postings() -> None:
        postings.repartition("gb").write.mode("append").partitionBy(
            "gb"
        ).parquet(f"{index_dir}/postings")

    # per-batch df deltas: shingle arrays are distinct per doc, so the
    # batch count IS the batch's contribution to global df
    def _write_df_ledger() -> None:
        postings.groupBy("g").agg(
            F.count(F.lit(1)).cast("long").alias("df_delta")
        ).write.mode("append").parquet(f"{index_dir}/df_ledger")

    def _write_docs() -> None:
        sh_batch.select("doc_id", "sh").write.mode("append").parquet(
            f"{index_dir}/docs"
        )

    # the three stores are disjoint directories and the writes share no
    # lineage beyond the materialized cache — overlap them so a wave
    # costs max(write) instead of sum(write) (guide §2.6: submit
    # independent jobs from a thread pool; the scheduler back-fills)
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(f)
            for f in (_write_postings, _write_df_ledger, _write_docs)
        ]
        for fut in futures:
            fut.result()


def probe_containment_index(
    spark: SparkSession,
    index_dir: str,
    df_cap: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Containment pairs valid under the index's CURRENT df state: fold
    the df ledger, keep shingles with global df ≤ ``df_cap``, join the
    postings against that rare set, and run the shared exact-readout
    kernel.  Row-identical to :func:`containment_from_shingles` over
    the union of all admitted batches (asserted in tests), because the
    ledger fold equals the inline document frequency as long as each
    document is admitted exactly once — and pairs supported only by a
    shingle that has since crossed the cap are absent, which is the
    retraction semantics stored-pair designs have to implement as a
    compensating delete."""
    df_now = (
        spark.read.parquet(f"{index_dir}/df_ledger")
        .groupBy("g")
        .agg(F.sum("df_delta").alias("df"))
    )
    rare = df_now.filter(F.col("df") <= df_cap).select("g")
    rx = (
        spark.read.parquet(f"{index_dir}/postings")
        .join(rare, "g")
        .select("doc_id", "g")
    )
    sh_tbl = spark.read.parquet(f"{index_dir}/docs")
    return _containment_readout(sh_tbl, rx, threshold)


def containment_index_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_waves: int = 3,
    df_cap: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Gate form of the persisted containment index: admit the shared
    containment fixture in ``n_waves`` deterministic waves
    (doc_id % n_waves — each document exactly once), then probe.  The
    output must equal :func:`containment_pairs` bit-for-bit, so the
    oracle is shared verbatim — the probe ≡ inline discipline of
    probe_dedup_index / query_pq_index."""
    from project_bigdata_recsys_spark.caching import scratch_dir

    # persist: each admission wave filters this frame, so unpersisted
    # the corpus is re-shingled once per wave (guide §5)
    sh = persist_tracked(containment_shingles(spark, sf_dir))
    index_dir = scratch_dir("contain_idx")
    for w in range(n_waves):
        update_containment_index(
            spark, sh.filter(F.col("doc_id") % n_waves == w), index_dir
        )
    return probe_containment_index(spark, index_dir, df_cap, threshold)


def blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation for entity resolution — the audit
    an ER team runs BEFORE trusting any linkage output: for each
    candidate-generation strategy, pairs completeness (recall of the
    known true matches) versus reduction ratio (fraction of the n²
    comparison space pruned).  The planted plural-typo variants ARE
    the ground truth (each planted name's true match is its original,
    collision-free by the sn_records anti-join), so recall is exact,
    not sampled — the advantage of the planted-data discipline.

    Strategies audited: (a) sorted-neighborhood window-3 (the
    sn_candidates generator — near-perfect recall, adjacency puts a
    variant next to its original); (b) (first-char, length div 4)
    blocking — cheaper, but a variant one character LONGER than its
    original can cross a length-band boundary and be lost, which is
    exactly the recall/reduction trade this audit quantifies.

    Scale: both strategies' candidate counts are Σ block² bounds over
    bounded blocks; the truth join is planted-cohort-sized; the
    readout is 2 rows.  All ratios freeze once to micro by integer
    floor-div."""
    recs = sn_records(spark, sf_dir).select("p_name")
    n_rec = recs.agg(F.count(F.lit(1)).cast("long").alias("n_records"))
    real = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    # the truth set replays the sn_records planting exactly: cohort
    # originals paired with their plural variants, collision cases
    # excluded the same way the record set excludes them
    from project_bigdata_recsys_spark.caching import persist_tracked

    # persist: truth feeds the match semi-join and the truth count in
    # BOTH strategy audits (4 evaluations, each re-scanning part twice
    # through `real`); planted-cohort-sized
    truth = persist_tracked(
        real.filter(hash32(F.col("p_name"), "sn:") % 3 == 0)
        .select(
            F.col("p_name").alias("name_a"),
            F.concat(F.col("p_name"), F.lit("s")).alias("name_b"),
        )
        .join(
            real.select(F.col("p_name").alias("name_b")),
            "name_b",
            "left_anti",
        )
    )
    sn_cand = sn_window_pairs(recs).select("name_a", "name_b")
    blk = recs.select(
        "p_name",
        F.substring("p_name", 1, 1).alias("c1"),
        F.expr("length(p_name) div 4").alias("lb"),
    )
    a = blk.alias("a")
    b = blk.alias("b")
    blk_cand = a.join(
        b,
        (F.col("a.c1") == F.col("b.c1"))
        & (F.col("a.lb") == F.col("b.lb"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    ).select(
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
    )

    def audit(name: str, cand: DataFrame) -> DataFrame:
        # candidates are already canonical (name_a < name_b on both
        # generators: SN emits sort-order successors, blocking enforces
        # a < b), and truth pairs are (orig, orig||'s') with orig <
        # orig||'s' by prefix order — so the match join is direct.
        # persist: cand feeds the match semi-join AND its own count —
        # unmaterialized, the strategy's pair generation ran twice
        cand = persist_tracked(cand)
        found = cand.join(truth, ["name_a", "name_b"], "left_semi")
        counts = (
            cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
            .crossJoin(
                found.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
            )
            .crossJoin(
                truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
            )
            .crossJoin(F.broadcast(n_rec))
        )
        return counts.select(
            F.lit(name).alias("strategy"),
            "n_records",
            "n_candidates",
            "n_truth",
            "n_found",
            F.expr(
                "CAST(n_found AS DECIMAL(38, 0)) * 1000000"
                " div CAST(n_truth AS DECIMAL(38, 0))"
            )
            .cast("long")
            .alias("recall_micro"),
            F.expr(
                "(CAST(n_records AS DECIMAL(38, 0)) * (n_records - 1)"
                " div 2 - n_candidates) * 1000000"
                " div (CAST(n_records AS DECIMAL(38, 0))"
                " * (n_records - 1) div 2)"
            )
            .cast("long")
            .alias("reduction_micro"),
        )

    return (
        audit("sorted_neighborhood_w3", sn_cand)
        .unionByName(audit("char1_lenband4", blk_cand))
        .orderBy("strategy")
    )


def probe_containment_batch(
    spark: SparkSession,
    index_dir: str,
    batch_sh: DataFrame,
    df_cap: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Containment pairs INVOLVING a small batch against the persisted
    index — the daily-probe shape (a full readout re-materializes the
    corpus pair set; a batch probe must cost O(batch), not O(corpus)).
    The batch's rare shingles select which ``gb=`` partitions of the
    postings relation are read (bounded driver-side collect of ≤ 64
    bucket keys — the bands/kb pruning precedent), the pair join runs
    batch-side × pruned postings, and the exact intersection joins the
    docs store only for the touched pair endpoints.

    df semantics: the batch is assumed ADMITTED (update first, probe
    second — the probe_dedup_index ordering), so the ledger fold
    already includes the batch's own contribution and the rare set is
    the same one the full readout would use.  Output is therefore
    EXACTLY the full readout filtered to pairs touching the batch —
    which is the oracle the gate shares."""
    ids = batch_sh.select("doc_id").distinct()
    df_now = (
        spark.read.parquet(f"{index_dir}/df_ledger")
        .groupBy("g")
        .agg(F.sum("df_delta").alias("df"))
    )
    # persist: the rare set feeds the batch-side join AND the pruned
    # postings join; unpersisted each consumer re-folds the df ledger
    # (guide §5 persist-on-reuse)
    rare = persist_tracked(df_now.filter(F.col("df") <= df_cap).select("g"))
    # persist: batch_rx feeds the bounded bucket collect and the pair
    # join; unpersisted the second consumer re-runs batch explode +
    # ledger join
    batch_rx = persist_tracked(
        batch_sh.select("doc_id", F.explode("sh").alias("g"))
        .join(rare, "g")
        .withColumn(
            "gb", (hash32(F.col("g")) % _CONTAIN_INDEX_GB).cast("int")
        )
    )
    # bounded collect: ≤ 64 bucket keys, never data-sized
    hit_buckets = [
        r.gb for r in batch_rx.select("gb").distinct().collect()
    ]
    postings = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("gb").isin(hit_buckets))
        .join(rare, "g")
        .select("doc_id", "g")
    )
    cand = (
        batch_rx.select(F.col("doc_id").alias("b_id"), "g")
        .join(postings.withColumnRenamed("doc_id", "o_id"), "g")
        .filter(F.col("b_id") != F.col("o_id"))
        .select(
            F.least("b_id", "o_id").alias("doc_a"),
            F.greatest("b_id", "o_id").alias("doc_b"),
        )
        .distinct()
    )
    sh_tbl = spark.read.parquet(f"{index_dir}/docs")
    a = sh_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    cont = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def containment_batch_probe_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_waves: int = 3,
    df_cap: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Gate form of the batch probe: admit the containment fixture in
    waves, then probe with the PLANTED half-docs as the batch (ids
    carry the +1e6 planted offset — a natural small daily batch with
    known matches).  Must equal containment_pairs filtered to pairs
    touching a planted id, which is the shared-oracle contract."""
    from project_bigdata_recsys_spark.caching import scratch_dir

    # persist: each admission wave filters this frame 3× (postings, df
    # ledger, docs writes) and the probe batch filters it again —
    # unpersisted, the corpus is re-shingled ~10× (guide §5)
    sh = persist_tracked(containment_shingles(spark, sf_dir))
    index_dir = scratch_dir("contain_bprobe")
    for w in range(n_waves):
        update_containment_index(
            spark, sh.filter(F.col("doc_id") % n_waves == w), index_dir
        )
    batch = sh.filter(F.col("doc_id") >= 1_000_000)
    return probe_containment_batch(
        spark, index_dir, batch, df_cap, threshold
    )
