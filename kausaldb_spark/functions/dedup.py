"""Document deduplication at corpus scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Pipeline shapes (all shuffle-conscious):

- **exact**: one hash-groupBy on md5(text) — the cheapest possible pass.
- **MinHash+LSH**: shingle-explode → per-(doc, seed) min-hash (map-side
  partial aggregation) → band buckets → self-join *within buckets only*
  (the LSH trick: candidate generation never goes quadratic) → exact Jaccard
  verify on the candidates.
- **n-gram Jaccard**: inverted-index candidates via *rare* shingles
  (document-frequency cap keeps hub shingles from exploding the pair count —
  the classic df-cut) → exact Jaccard verify.
- **SimHash**: 16-bit signature per doc (functions.text.simhash16);
  distance-0 pairs via signature groupBy.

The min-hash family (scheme v2, r10) draws its random bits from ONE md5
per shingle and spreads seeds with universal integer mixes — engine-portable
exactness: DuckDB computes the identical signature from the identical
arithmetic (see MINHASH_SIG_VERSION below), which is what the oracle gate
checks.

The test corpus ships zero natural duplicates, so ``dedup_corpus`` plants
deterministic exact copies (doc_id % 50) and near-copies with the first five
words dropped (doc_id % 37) — both reproducible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kausaldb_spark.session import checkpoint
from kausaldb_spark.sources import guard

from kausaldb_spark.functions.text import (
    N_SIMHASH_BANDS,
    shingles,
    tokens,
)

N_MINHASH = 8          # seeds
BAND_SIZE = 2          # → 4 bands; P(candidate) = 1-(1-j^2)^4
RARE_SHINGLE_DF = 20   # df-cut for the inverted-index candidate pass
# LSH robustness: a band bucket holding more than this many docs is dropped
# from candidate generation (the quadratic-within-bucket guard — same role
# the df-cut plays for the inverted index). Mirrored in every oracle.
MAX_LSH_BUCKET = 500
MAX_SIMHASH_HAMMING = 3  # ≤3 bit flips over 64 bits ⇒ ≥1 of 4 bands equal
# near-dup clustering runs a driver-side union-find up to this many pairs
# (one bounded collect); beyond it, the distributed WCC runs
CLUSTER_COLLECT_PAIR_CAP = 500_000

EXACT_COPY_MOD = 50
NEAR_COPY_MOD = 37
EXACT_COPY_OFFSET = 1_000_000
NEAR_COPY_OFFSET = 2_000_000


def dedup_corpus(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """documents ∪ planted exact copies ∪ planted near-copies (first five
    words dropped).

    ``spread=True`` opts the consumer into scale-adaptive scan parallelism
    (sources/spread.spread_scan — the driver testdata is one single-row-
    group parquet file, so the scan plans as ONE task). Opt-in per
    consumer (r12 opt round, measured at sf0.1): the shingle-explode-heavy
    ops win ~2x (duplicate_spans 3.4→2.1 s, ngram_jaccard 6.3→4.6 s) while
    the single-shuffle cheap ops (exact/line dedup, simhash) lose the
    exchange cost and keep the plain scan."""
    docs = guard.documents_text(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "text")
    if spread:
        from kausaldb_spark.sources.spread import spread_scan

        docs = spread_scan(docs, key=f"dedup_docs:{sf_dir}")
    exact = docs.where(F.col("doc_id") % EXACT_COPY_MOD == 0).select(
        (F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"), "text"
    )
    toks = tokens(F.col("text"))
    near = docs.where(F.col("doc_id") % NEAR_COPY_MOD == 0).select(
        (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 6, F.size(toks))).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


# The same corpus in DuckDB SQL (oracle twin).
DUCK_CORPUS = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {EXACT_COPY_OFFSET}, text FROM documents
  WHERE doc_id % {EXACT_COPY_MOD} = 0
  UNION ALL
  SELECT doc_id + {NEAR_COPY_OFFSET},
         array_to_string(string_split_regex(trim(lower(text)), '\\s+')[6:], ' ')
  FROM documents WHERE doc_id % {NEAR_COPY_MOD} = 0
)
"""


def exact_duplicates(corpus: DataFrame) -> DataFrame:
    """Exact dedup: (text_hash, n_dups, min_doc_id) for groups > 1."""
    return (
        corpus.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def doc_shingles(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the base relation for both MinHash
    and the inverted-index pass. Per-doc dedup happens in ``array_distinct``
    BEFORE the explode, so rows are already unique — no global distinct
    (that would be a full shuffle of the corpus's shingle volume for
    nothing)."""
    return corpus.select(
        "doc_id", F.explode(F.array_distinct(shingles(tokens(F.col("text")), n))).alias("shingle")
    )


# MinHash signature scheme v2 (r10): ONE md5 per shingle supplies all the
# randomness; the per-seed hashes are universal mixes of its two 44-bit
# chunks, h_k = ((c0 mod P) * A_k + c1 mod P) mod P with P = 2^31 - 1 —
# the standard (a*x + b) mod p family (Broder's MinHash uses exactly such
# seeded universal hashes; only the RANDOM BITS need a strong hash, the
# seeds just need pairwise spread). v1 computed md5(k || shingle) per seed:
# 8x the cryptographic-hash work on the map side — the dominant per-byte
# cost of the whole dedup pipeline at corpus scale. All products stay
# under 2^62 (ANSI-safe), and the identical integer arithmetic runs in the
# DuckDB twins via ('0x' || substring(md5(x), ..))::BIGINT. Any persisted
# minhash_index carries sig_v and is rejected on mismatch — v1 indexes
# must be rebuilt, silently mixing schemes would just miss every dup.
MINHASH_SIG_VERSION = 2
MIX_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MIX_A = [
    1_000_000_007, 998_244_353, 805_306_457, 469_762_049,
    2_013_265_921, 1_610_612_741, 1_073_741_789, 1_296_217_291,
]


def _sig_chunks(shingle_col):
    """(c0, c1): the md5's first/second 11 hex nibbles as bigints mod P."""
    h = F.md5(shingle_col)
    c0 = F.conv(F.substring(h, 1, 11), 16, 10).cast("bigint") % F.lit(MIX_P)
    c1 = F.conv(F.substring(h, 12, 11), 16, 10).cast("bigint") % F.lit(MIX_P)
    return c0, c1


def minhash_signatures(sh: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """(doc_id, k, minh): min over the per-seed universal mix (scheme v2
    above) per seed k. The md5 chunks are computed ONCE per shingle before
    the seed explode; the min-groupBy does partial (map-side) aggregation
    before the shuffle — signature state per doc is tiny."""
    if n_hashes > len(MIX_A):
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(MIX_A)} fixed seed "
            f"constants (MIX_A) of signature scheme v{MINHASH_SIG_VERSION}; "
            "extend MIX_A (and bump the scheme version) to widen signatures"
        )
    c0, c1 = _sig_chunks(F.col("shingle"))
    seeds = F.explode(F.array(*[F.lit(k) for k in range(n_hashes)])).alias("k")
    a_k = F.element_at(
        F.array(*[F.lit(a) for a in MIX_A[:n_hashes]]), F.col("k") + 1
    )
    return (
        sh.select("doc_id", c0.alias("_c0"), c1.alias("_c1"))
        .select("doc_id", "_c0", "_c1", seeds)
        .groupBy("doc_id", "k")
        .agg(
            F.min((F.col("_c0") * a_k + F.col("_c1")) % F.lit(MIX_P)).alias("minh")
        )
    )


def capped_buckets(
    bands: DataFrame, max_bucket_size: int, keys: tuple[str, ...] = ("band", "bucket")
) -> tuple[DataFrame, DataFrame]:
    """Split a (.., band, bucket) relation into (rows in buckets within the
    cap, the dropped oversized buckets with their sizes). A degenerate
    bucket — thousands of empty/boilerplate docs hashing alike — would
    otherwise re-introduce the quadratic blowup LSH exists to avoid.

    Join shape: the *dropped* set is pathology-sized (usually empty — a
    bucket only lands there when > max_bucket_size rows collide), so the
    filter is a broadcast anti-join against it. The ok-set formulation
    (inner join against nearly-all buckets) costs a full extra shuffle of
    the bucketed relation; the anti-join is plan-side free when no bucket
    is degenerate."""
    counts = bands.groupBy(*keys).agg(F.count("*").alias("_bucket_n"))
    dropped = counts.where(F.col("_bucket_n") > max_bucket_size)
    kept = bands.join(F.broadcast(dropped.select(*keys)), list(keys), "left_anti")
    return kept, dropped


def jaccard_verify(
    candidates: DataFrame, corpus_cand: DataFrame, num: int, den: int,
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via per-doc hashed shingle SETS:
    keep pairs with inter/union >= num/den (integer arithmetic — no float
    drift). ``corpus_cand`` is a (doc_id, text) relation covering at least
    the candidate docs. Returns (doc_a, doc_b, n_inter, n_union).

    Scale shape (r11, found by the sf10 gauntlet): the corpus relation is
    first semi-join-pruned to CANDIDATE docs only — the verify legs then
    move a duplication-rate-sized sliver instead of the whole corpus (at
    sf10 the unpruned verify re-shuffled a ~40M-row relation twice).
    The hashed set per doc is built IN-ROW (r12 opt round): the previous
    shape exploded the sliver's shingles and re-assembled them with a
    collect_list groupBy — one whole shuffle of the sliver's shingle
    volume that a bind-only transform + array_distinct does per row in
    codegen'd/interpreted array math with zero movement. Values are
    bit-identical: same distinct-shingle set, same 60-bit md5-prefix hash
    (the arithmetic both engines run — see the parity note below), and
    only set CARDINALITIES are consumed downstream, so element order
    cannot matter.

    The set elements are the 60-bit md5 prefix of the shingle, hashed
    with the SAME arithmetic on both engines (proven portable by the v2
    signature scheme), and n_inter/n_a/n_b are SET cardinalities of the
    hashed sets on both sides — so even a theoretical within-doc 60-bit
    collision yields identical counts: parity by construction."""
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pruned = corpus_cand.select("doc_id", "text").join(
        cand_ids, "doc_id", "leftsemi"
    )
    # bind-only lambdas (r10 HOF discipline); _sh is multi-referenced so
    # CollapseProject never inlines the shingle build into a lambda body
    sets = (
        pruned.select(
            "doc_id",
            F.array_distinct(shingles(tokens(F.col("text")), n)).alias("_sh"),
        )
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    "_sh",
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                    .cast("bigint"),
                )
            ).alias("hs"),
        )
        .select("doc_id", "hs", F.size("hs").alias("n_sh"))
        # joined below as BOTH pair sides. The r12 in-row rewrite removed
        # the collect_list exchange whose shuffle files the second
        # reference reused (ReusedExchange) — without it each side
        # recomputed the whole sliver subtree (semi-join + shingling +
        # per-element md5). Materialize the duplication-rate-sized sliver
        # once instead (r13; the incremental-batch residual's root cause).
        .transform(checkpoint)
    )
    paired = candidates.join(
        sets.selectExpr("doc_id as doc_a", "hs as hs_a", "n_sh as n_a"),
        "doc_a",
    ).join(
        sets.selectExpr("doc_id as doc_b", "hs as hs_b", "n_sh as n_b"),
        "doc_b",
    )
    # Size-ratio prefilter: J(A,B) <= min/max, so den*min < num*max can
    # never pass — skip those pairs' intersections entirely.
    sized = paired.where(
        F.least(F.col("n_a"), F.col("n_b")) * den
        >= F.greatest(F.col("n_a"), F.col("n_b")) * num
    )
    inter = sized.withColumn(
        "n_inter", F.size(F.array_intersect("hs_a", "hs_b"))
    )
    return (
        inter.withColumn("n_union", (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .where(F.col("n_inter") * den >= F.col("n_union") * num)
        .select(
            "doc_a", "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.col("n_union").cast("bigint").alias("n_union"),
        )
    )


def _wide_signature_buckets(
    corpus: DataFrame, n_hashes: int = N_MINHASH, band_size: int = BAND_SIZE,
    n: int = 3,
) -> DataFrame:
    """(doc_id, band, bucket) via ONE groupBy pass over the corpus's
    exploded shingles: all n_hashes mins as aggregate columns (the
    explode-by-seed formulation shuffled the shingle relation n_hashes
    times; this shuffles only the partially-aggregated per-doc min states
    — the hash aggregate combines map-side, so the exploded relation
    itself never crosses the network). Band buckets hash the sorted pair
    (least, greatest) — string-identical to the sorted-list formulation
    the oracle uses.

    (r12 opt round: a fully IN-ROW variant — bind-only array transforms +
    array_min, zero shuffle — was implemented, pinned row-identical
    (test_dedup_scale), A/B-measured ~1.9 s vs ~1.5 s at sf0.1 and
    REVERTED: higher-order functions are interpreted per element, and the
    groupBy's map-side partial aggregation already collapses the shuffle
    to ~1 row per doc per mapper, so the in-row form saved almost no
    movement while paying interpreted md5/arithmetic per shingle. The
    corpus-level signature stays: callers no longer build the exploded
    relation themselves.)"""
    assert band_size == 2, "wide bucket builder is specialized for band_size=2"
    if n_hashes > len(MIX_A):
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(MIX_A)} fixed seed "
            f"constants (MIX_A) of signature scheme v{MINHASH_SIG_VERSION}; "
            "extend MIX_A (and bump the scheme version) to widen signatures"
        )
    sh = doc_shingles(corpus, n)
    c0, c1 = _sig_chunks(F.col("shingle"))
    pre = sh.select("doc_id", c0.alias("_c0"), c1.alias("_c1"))
    aggs = [
        F.min((F.col("_c0") * F.lit(MIX_A[k]) + F.col("_c1")) % F.lit(MIX_P))
        .alias(f"h{k}")
        for k in range(n_hashes)
    ]
    wide = pre.groupBy("doc_id").agg(*aggs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.least(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")),
                        F.greatest(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")),
                    )
                ).alias("bucket"),
            )
            for b in range(n_hashes // band_size)
        ]
    )
    return (
        wide.select("doc_id", F.explode(bands).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .transform(checkpoint)
    )


def minhash_pairs_for(
    corpus: DataFrame, num: int = 7, den: int = 10,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over an arbitrary (doc_id, text) corpus:
    shingles → signatures → banded candidates (oversized buckets dropped) →
    Jaccard ≥ num/den verify."""
    # NO persist of the exploded shingle relation (r11): at corpus scale it
    # is orders of magnitude larger than the text (38M rows for 150 MB at
    # the sf10 rehearsal; impossible at 100 TB) and caching it cost more
    # than the one extra corpus scan it saves. The signature pass streams
    # the shingles once; verification RE-SHINGLES only the candidate docs
    # (a duplication-rate-sized sliver of the corpus — the same shape
    # near_dup_vs_corpus documents for the incremental path).
    bands = _wide_signature_buckets(corpus)
    bands, _dropped = capped_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .transform(checkpoint)  # candidate ids feed two prune joins
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_corpus = corpus.join(cand_ids, "doc_id", "leftsemi")
    return jaccard_verify(cands, cand_corpus, num, den).transform(checkpoint)


def minhash_near_duplicates(
    spark: SparkSession, sf_dir: str, num: int = 7, den: int = 10
) -> DataFrame:
    """Full MinHash-LSH pipeline over the planted-duplicate test corpus."""
    return minhash_pairs_for(dedup_corpus(spark, sf_dir, spread=True), num, den)


MIN_SHARED_RARE = 2  # candidacy needs >= this many shared rare shingles


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, num: int = 5, den: int = 10,
    min_shared: int = MIN_SHARED_RARE,
) -> DataFrame:
    """Inverted-index candidates via rare shingles (df ≤ RARE_SHINGLE_DF),
    then exact Jaccard ≥ num/den.

    Candidacy needs ≥ ``min_shared`` shared rare shingles — the standard
    second knob next to the df-cut: a J ≥ num/den pair shares ≥
    (num/den)·max(|A|,|B|) shingles, so requiring 2 only loses pairs whose
    overlap is almost entirely hub (df-cut) shingles — the same
    approximation tier the df-cut itself accepts. The grouped count is free
    (it replaces the candidate distinct) and collapses the verify-join
    input by orders of magnitude (906k -> ~20k pairs at sf0.1)."""
    corpus = dedup_corpus(spark, sf_dir, spread=True)
    # NO persist of the exploded shingle relation (r11, same lesson the
    # sf10 gauntlet taught minhash_pairs_for): at corpus scale it dwarfs
    # the text (~40M rows for 150 MB at the 100x rehearsal; impossible at
    # 100 TB) and caching it costs more than the re-shingling map passes
    # it saves. The df-cut and the size relation each stream the shingles
    # once; everything downstream of the checkpointed RARE sliver never
    # touches the full relation again, and verification re-shingles only
    # the candidate docs (the duplication-rate-sized sliver shape
    # near_dup_vs_corpus documents).
    sh = doc_shingles(corpus)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= RARE_SHINGLE_DF)
        .select("shingle")
    )
    # per-doc distinct-shingle counts IN-ROW (r12 opt round): identical to
    # the former sh.groupBy(doc_id).count() — doc_shingles explodes the
    # per-doc DISTINCT array, so its per-doc row count IS that array's
    # size — minus a full shuffle of the exploded shingle relation (the
    # size pass now never materializes shingles as rows at all)
    sizes = corpus.select(
        "doc_id",
        F.size(F.array_distinct(shingles(tokens(F.col("text")), 3))).cast(
            "bigint"
        ).alias("n_sh"),
    )
    rare_sh = (
        sh.join(rare, "shingle").join(sizes, "doc_id").transform(checkpoint)
    )
    a = rare_sh.selectExpr("shingle", "doc_id as doc_a", "n_sh as sa")
    b = rare_sh.selectExpr("shingle", "doc_id as doc_b", "n_sh as sb")
    # size-ratio predicate inside the self-join (lossless w.r.t. the final
    # Jaccard threshold) prunes the quadratic per-shingle pair blowup
    # before the per-pair aggregation
    cands = (
        a.join(
            b,
            (a.shingle == b.shingle)
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.least(F.col("sa"), F.col("sb")) * den
               >= F.greatest(F.col("sa"), F.col("sb")) * num),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_n_shared_rare"))
        .where(F.col("_n_shared_rare") >= min_shared)
        .select("doc_a", "doc_b")
        .transform(checkpoint)  # candidate ids feed the prune join
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_corpus = corpus.join(cand_ids, "doc_id", "leftsemi")
    return jaccard_verify(cands, cand_corpus, num, den).transform(checkpoint)


def contaminated_docs(
    spark: SparkSession, sf_dir: str, benchmark_max_id: int = 10,
    n: int = 8, min_shared: int = 2,
) -> DataFrame:
    """Benchmark-contamination flagging: corpus docs sharing >= min_shared
    word n-grams with any 'benchmark' document (here: doc_id < benchmark_max_id
    stands in for the eval set). The canonical decontamination pass for
    training data: inverted n-gram index join, grouped per (doc, benchmark)
    pair. Output (doc_id, benchmark_id, n_shared)."""
    from kausaldb_spark.sources.spread import spread_scan

    docs = spread_scan(
        guard.documents_text(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).select("doc_id", "text"),
        key=f"dedup_docs:{sf_dir}",
    )
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokens(F.col("text")), n))).alias("shingle"),
    )
    bench = (
        sh.where(F.col("doc_id") < benchmark_max_id)
        .selectExpr("doc_id as benchmark_id", "shingle")
    )
    return (
        sh.where(F.col("doc_id") >= benchmark_max_id)
        .join(bench, "shingle")
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def source_ngram_overlap(docs, n: int = 8, text_col: str = "text",
                         source_col: str = "source"):
    """Cross-SOURCE n-gram overlap matrix — the "how much does crawl A leak
    into crawl B" curation diagnostic that decides whether two sources can
    be mixed without double-counting. For every unordered source pair,
    counts distinct word n-grams present in BOTH, plus each side's distinct
    n-gram total and the overlap as ppm of the smaller side.

    Scale shape: one shuffle keyed by shingle to collect each shingle's
    distinct source SET (bounded by #sources — tens to hundreds, never
    corpus-sized), pairs exploded from that set in codegen (array slice
    trick, no self-join of the shingle relation), then a #source²-bounded
    aggregate. Integer-exact output (ppm floor division) so the DuckDB
    oracle can hash-gate it.

    Output: (source_a, source_b, n_shared, n_a, n_b, ppm_of_smaller),
    source_a < source_b lexically."""
    sh = docs.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), n))
        ).alias("shingle"),
    ).distinct()
    totals = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_total")
    )
    per_sh = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") > 1)
    )
    pairs = per_sh.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda x, i: F.transform(
                        F.slice(F.col("ss"), i + F.lit(2), F.size(F.col("ss"))),
                        lambda y: F.struct(
                            x.alias("source_a"), y.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("n_shared")
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_total").alias("n_a")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_total").alias("n_b")
    )
    out = shared.join(F.broadcast(ta), "source_a").join(F.broadcast(tb), "source_b")
    return out.select(
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "n_b",
        F.expr("CAST(n_shared * 1000000 DIV least(n_a, n_b) AS BIGINT)").alias(
            "ppm_of_smaller"
        ),
    )


def components_from_pairs(
    spark: SparkSession, pairs: DataFrame,
    a_col: str = "doc_a", b_col: str = "doc_b",
) -> DataFrame:
    """Connected components of a pair relation → (doc_id, cluster_id) with
    cluster_id = min member id. The verified pair set is orders of magnitude
    smaller than the corpus (it IS the duplication rate), so up to a
    threshold the components come from a driver-side union-find in one
    collect; a pathologically large pair set falls back to the distributed
    WCC min-label analytic. Shared by near_dup_clusters (MinHash pairs) and
    similarity.semantic_dedup (embedding-cosine pairs)."""
    pair_cap = CLUSTER_COLLECT_PAIR_CAP
    rows = pairs.select(a_col, b_col).limit(pair_cap + 1).collect()
    if len(rows) <= pair_cap:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r[a_col], r[b_col]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-id root so cluster_id = min doc_id of the component
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = sorted((doc, find(doc)) for doc in parent)
        if not out:
            return spark.range(0).selectExpr(
                "cast(id as bigint) as doc_id",
                "cast(id as bigint) as cluster_id",
            )
        return spark.createDataFrame(
            out, "doc_id bigint, cluster_id bigint"
        )

    from kausaldb_spark.operators.traversal import weakly_connected_components

    e = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst"),
        F.lit("near_dup").alias("edge_type"),
    )
    comp = weakly_connected_components(e)
    return comp.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
    )


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, num: int = 7, den: int = 10
) -> DataFrame:
    """Dedup decision layer: MinHash pair graph → connected components →
    canonical selection (keep the min doc_id per cluster, drop the rest).
    Output (doc_id, cluster_id, is_canonical); singleton docs don't appear
    (nothing to decide)."""
    pairs = minhash_near_duplicates(spark, sf_dir, num, den)
    comp = components_from_pairs(spark, pairs)
    return comp.withColumn(
        "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("int")
    )


def simhash_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-0 SimHash pairs: identical 16-bit signatures. (Near-distance
    pairing over the full 64-bit signature is ``simhash_band_pairs``;
    distance-0 on one band is the groupBy-only special case.)"""
    corpus = dedup_corpus(spark, sf_dir)
    # same explode+groupBy chunked-int formulation as _simhash64_signatures
    # (bit j = md5 nibble j >= 8 — nibble bit 3 — i.e. simhash16's definition)
    ex = (
        corpus.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .select("doc_id", *_md5_chunk_cols(F.md5(F.col("tok"))))
    )
    aggs = [
        F.sum(F.when(_md5_nibble_bit(j, 3) == 1, 1).otherwise(-1)).alias(f"s{j}")
        for j in range(16)
    ]
    sh_col = None
    for j in range(16):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sh_col = bit if sh_col is None else sh_col + bit
    sigs = (
        ex.groupBy("doc_id").agg(*aggs)
        .select("doc_id", sh_col.cast("int").alias("sh"))
        .transform(checkpoint)  # signature pass runs once, not per join side
    )
    a = sigs.selectExpr("sh", "doc_id as doc_a")
    b = sigs.selectExpr("sh", "doc_id as doc_b")
    return (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("sh").alias("simhash"))
    )


# md5 hex (32 nibbles) parsed into 3 bigint chunks of 11/11/10 nibbles
# (each < 16^11 = 2^44, safely inside int64)
_MD5_CHUNKS = ((0, 11), (11, 11), (22, 10))


def _md5_nibble_bit(k: int, b: int):
    """Column: bit ``b`` of hex nibble ``k`` of the pre-parsed chunk columns
    c0/c1/c2 — pure integer shift/mask, no per-row string work."""
    for ci, (a, ln) in enumerate(_MD5_CHUNKS):
        if a <= k < a + ln:
            shift = 4 * (ln - 1 - (k - a)) + b
            return F.shiftright(F.col(f"c{ci}"), shift).bitwiseAND(F.lit(1))
    raise ValueError(f"nibble index {k} out of range")


def _md5_chunk_cols(h):
    return [
        F.conv(F.substring(h, a + 1, ln), 16, 10).cast("bigint").alias(f"c{i}")
        for i, (a, ln) in enumerate(_MD5_CHUNKS)
    ]


def _simhash64_signatures(corpus: DataFrame) -> DataFrame:
    """(doc_id, b0..b3): the 64-bit SimHash as 4 16-bit bands, via
    explode + one groupBy with 64 plain aggregate columns. Identical bit
    definition to ``text.simhash64_bands`` (bit j = bit (j%2) of md5 hex
    nibble (j//2), majority sign over tokens) but far faster: the md5 is
    parsed ONCE into 3 bigint chunks, each signature bit is an integer
    shift/mask, and the aggregates stay inside whole-stage codegen with
    map-side partial aggregation (higher-order-function lambdas are
    interpreted per array element; per-bit substring+isin re-scans the
    hex string 64 times)."""
    ex = (
        corpus.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .select("doc_id", *_md5_chunk_cols(F.md5(F.col("tok"))))
    )
    aggs = []
    for j in range(64):
        hit = _md5_nibble_bit(j // 2, j % 2) == 1
        aggs.append(F.sum(F.when(hit, 1).otherwise(-1)).alias(f"s{j}"))
    sums = ex.groupBy("doc_id").agg(*aggs)
    band_cols = []
    for b in range(N_SIMHASH_BANDS):
        total = None
        for j in range(16):
            bit = F.when(F.col(f"s{16 * b + j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
            total = bit if total is None else total + bit
        band_cols.append(total.cast("int").alias(f"b{b}"))
    return sums.select("doc_id", *band_cols)


def simhash_band_pairs(
    spark: SparkSession, sf_dir: str,
    max_hamming: int = MAX_SIMHASH_HAMMING,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-distance SimHash pairs over the 64-bit signature: candidates are
    pairs agreeing on at least one of the 4 salted 16-bit bands (pigeonhole:
    hamming ≤ 3 ⇒ some band identical), verified by
    bit_count(sig_a XOR sig_b) ≤ max_hamming.

    Scale shape: 4 per-band equi-joins (each within 16-bit-value buckets,
    with oversized buckets dropped), never an all-pairs comparison — the fix
    for the 16-bit signature whose 65,536 buckets go quadratic at corpus
    scale. Output (doc_a, doc_b, hamming)."""
    corpus = dedup_corpus(spark, sf_dir)
    all_bands = [f"b{b}" for b in range(N_SIMHASH_BANDS)]
    sigs = _simhash64_signatures(corpus).transform(checkpoint)
    # one signature pass feeds all 4 band joins

    cands = None
    for b in range(N_SIMHASH_BANDS):
        col = f"b{b}"
        banded, _dropped = capped_buckets(sigs, max_bucket_size, keys=(col,))
        a = banded.select(
            F.col(col).alias("_bv"), F.col("doc_id").alias("doc_a"),
            *[F.col(n).alias(f"a_{n}") for n in all_bands],
        )
        bb = banded.select(
            F.col(col).alias("_bv"), F.col("doc_id").alias("doc_b"),
            *[F.col(n).alias(f"c_{n}") for n in all_bands],
        )
        p = (
            a.join(bb, "_bv")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a", "doc_b",
                *[f"a_{n}" for n in all_bands], *[f"c_{n}" for n in all_bands],
            )
        )
        cands = p if cands is None else cands.unionByName(p)

    # hamming over the 64-bit signature = sum of per-band 16-bit hammings
    # (no bigint packing: band 3 in bits 48-63 would overflow signed int64).
    # Verify BEFORE the distinct (r13, §2.3 shuffle fewer bytes): hamming is
    # a pure function of the pair's band columns, so filtering first is
    # row-identical — and the dedup exchange then moves only 3 narrow
    # columns of the duplication-rate-sized survivor set instead of 10
    # columns of every band-collision candidate.
    hamming = None
    for n in all_bands:
        h = F.bit_count(F.col(f"a_{n}").bitwiseXOR(F.col(f"c_{n}")))
        hamming = h if hamming is None else hamming + h
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def select_canonical(
    clusters: DataFrame,
    scores: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-weighted keep-rule for near-dup clusters: per cluster keep the
    member with the highest ``score`` (ties break to the smallest id —
    deterministic on any engine). The min-id rule of ``near_dup_clusters``
    is the cheap default; real curation keeps the best-quality copy (longest,
    cleanest, highest LM score) and drops the rest.

    Output: (doc_id, cluster_id, score, is_canonical). Scale shape: one
    broadcast-or-shuffle join on the doc id + one max_by aggregate keyed by
    cluster — no window over the full corpus (clusters are
    duplication-rate-sized). The best-per-cluster join carries no broadcast
    hint: at 100 TB the cluster count can exceed driver/broadcast limits,
    so AQE picks broadcast vs shuffle from the observed size (r6, per
    ADVICE)."""
    joined = clusters.select(id_col, cluster_col).join(
        scores.select(id_col, score_col), id_col
    )
    # max_by with deterministic tiebreak: pack (score, -id) into a struct —
    # struct ordering compares fields left to right
    best = joined.groupBy(cluster_col).agg(
        F.max(F.struct(F.col(score_col), (-F.col(id_col)).alias("_negid")))
        .alias("_best")
    ).select(
        cluster_col,
        F.col("_best")[score_col].alias("_best_score"),
        (-F.col("_best._negid")).alias("_best_id"),
    )
    return (
        joined.join(best, cluster_col)
        .select(
            id_col,
            cluster_col,
            score_col,
            (F.col(id_col) == F.col("_best_id")).cast("int").alias("is_canonical"),
        )
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring spans (substring-level dedup)
# ---------------------------------------------------------------------------

def duplicate_spans(
    corpus: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """Maximal duplicated token spans per document — substring-level exact
    dedup in the style of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2021), which removes any ≥N-token substring
    that occurs more than once in the corpus. The reference engine has no
    substring analytics; this extends the pipeline layer next to the
    document-level passes.

    Semantics (integer-exact, oracle-portable):
    - a k-token shingle starting at 0-based token position ``pos`` is
      *duplicated* when its total occurrence count across the corpus
      (including repeats within one document) is >= ``min_count``;
    - per document, duplicated shingle positions are merged into maximal
      spans: shingles at p and q chain when q <= p + k (overlap or
      adjacency), i.e. their token ranges [p, p+k) and [q, q+k) form one
      contiguous duplicated region;
    - output: (doc_id, span_start, span_end, span_tokens) with span_end
      exclusive; every token in [span_start, span_end) is covered by some
      duplicated shingle.

    Scale shape: ONE shuffle keyed by shingle (groupBy count, map-side
    combined — the same volume MinHash already moves), a shingle-keyed
    semi-join back (AQE picks broadcast when the duplicated set is small),
    then a per-document gaps-and-islands window (bounded by document
    length, never corpus-sized). The suffix-array machinery of the paper is
    what a single machine needs; shingle counting is the shuffle-native
    equivalent at fixed k."""
    from pyspark.sql.window import Window

    sh = corpus.select(
        "doc_id",
        F.posexplode(shingles(tokens(F.col("text")), k)).alias("pos", "shingle"),
    )
    dup = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("shingle")
    )
    hits = sh.join(dup, "shingle", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        hits.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_brk",
            (F.col("_prev").isNull() | (F.col("pos") > F.col("_prev") + k)).cast("int"),
        )
        .withColumn(
            "_grp",
            F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        islands.groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    corpus: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """The transformation half of substring-level exact dedup (Lee et al.
    2021): `duplicate_spans` DETECTS the maximal duplicated token spans;
    this REMOVES them and reassembles the surviving tokens in order —
    what a training-data pipeline actually writes out. Returns
    (doc_id, text_clean, n_kept, n_removed) for EVERY corpus doc
    (text_clean = '' when the whole document was duplicated spans;
    whitespace is normalized to single spaces, the same token contract
    every text op here uses).

    Scale shape: the span relation is duplication-rate-sized (only docs
    with a duplicated region appear), collected to a per-doc array
    (bounded by doc length) and LEFT-joined back to the corpus; the keep
    /drop decision is a per-token filter over that tiny array in
    whole-stage codegen (one transform + filter + exists — bind-only
    lambdas per the r10 HOF discipline). No extra shuffle beyond
    duplicate_spans' own: the join key is doc_id and AQE broadcasts the
    span side at realistic duplication rates."""
    spans = duplicate_spans(corpus, k, min_count)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    return (
        corpus.select("doc_id", tokens(F.col("text")).alias("t"))
        .join(per_doc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "t",
            "coalesce(spans, cast(array() as"
            " array<struct<span_start:bigint,span_end:bigint>>)) as sp",
        )
        .selectExpr(
            "doc_id",
            "filter(transform(t, (x, i) -> struct(x as x, cast(i as bigint)"
            " as i)), p -> NOT exists(sp, r -> p.i >= r.span_start AND p.i"
            " < r.span_end)) as keptp",
            "cast(size(t) as bigint) as n_all",
        )
        .selectExpr(
            "doc_id",
            "array_join(transform(keptp, p -> p.x), ' ') as text_clean",
            "cast(size(keptp) as bigint) as n_kept",
            "cast(n_all - size(keptp) as bigint) as n_removed",
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs an existing corpus index
# ---------------------------------------------------------------------------

def minhash_index(corpus: DataFrame) -> DataFrame:
    """The persistable dedup index of a corpus: its MinHash band buckets
    ``(doc_id, band, bucket)`` — ``n_bands`` small rows per document, no
    text. A steady-state pipeline materializes this once (parquet,
    partitioned by ``band`` for bucket-join pruning), appends each accepted
    batch's buckets, and dedups every incoming batch against it WITHOUT
    re-hashing the corpus — the incremental analogue of
    ``minhash_pairs_for``'s self-join. Carries ``sig_v`` (the signature
    scheme version): a persisted index from another scheme would silently
    miss every duplicate, so ``near_dup_vs_corpus`` refuses it instead."""
    return _wide_signature_buckets(corpus).withColumn(
        "sig_v", F.lit(MINHASH_SIG_VERSION)
    )


def near_dup_vs_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index: DataFrame | None = None,
    num: int = 7,
    den: int = 10,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs of NEW documents against an EXISTING corpus:
    ``(doc_a=new id, doc_b=corpus id, n_inter, n_union)`` with Jaccard >=
    num/den. Doc ids must not collide across the two relations (the
    steady-state contract: new batches carry fresh ids).

    Scale shape: the new batch is hashed once (batch-sized, not
    corpus-sized); candidates come from an equi-join of the batch's band
    buckets against the (optionally precomputed) corpus ``index`` —
    corpus-side degenerate buckets are capped exactly like the self-join
    path; verification re-shingles ONLY the candidate corpus docs (a
    semi-join-pruned sliver of the corpus), so corpus text is touched
    proportionally to the duplication rate, not the corpus size.
    New-vs-new duplicates inside the batch are deliberately NOT flagged —
    run ``minhash_pairs_for`` on the batch for that."""
    if index is None:
        # built in-function just above: version-correct by construction, no
        # extra Spark job to re-read the constant column (r10 ADVICE)
        index = minhash_index(corpus_docs).drop("sig_v")
    # scheme guard on a CALLER-SUPPLIED (possibly persisted) index: buckets
    # from a different signature scheme never match the batch's — that is
    # a silent zero-dup result, so fail loudly instead
    elif "sig_v" in index.columns:
        row = index.select("sig_v").first()
        if row is not None and row["sig_v"] != MINHASH_SIG_VERSION:
            raise ValueError(
                f"minhash index was built with signature scheme "
                f"v{row['sig_v']}; this build uses "
                f"v{MINHASH_SIG_VERSION} — rebuild the index"
            )
        index = index.drop("sig_v")
    else:
        # an index persisted before versioning is scheme v1 by definition
        raise ValueError(
            "unversioned (pre-v2) minhash index — rebuild it with "
            "minhash_index() on this build"
        )
    idx_ok, _dropped = capped_buckets(index, max_bucket_size)
    new_buckets = _wide_signature_buckets(new_docs.select("doc_id", "text"))
    cand = (
        new_buckets.alias("n")
        .join(
            idx_ok.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
        )
        .distinct()
        # candidate ids feed the corpus-sliver semi-join plus both prune
        # references inside jaccard_verify — same reuse contract as
        # minhash_pairs_for's checkpointed cands (r13)
        .transform(checkpoint)
    )
    # verify on new-batch shingles + the candidate corpus sliver only
    cand_corpus = corpus_docs.join(
        cand.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "semi"
    )
    verify_corpus = new_docs.select("doc_id", "text").unionByName(
        cand_corpus.select("doc_id", "text")
    )
    return jaccard_verify(cand, verify_corpus, num, den)


def filter_new_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index: DataFrame | None = None,
    num: int = 7,
    den: int = 10,
    max_bucket_size: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """The accept/reject decision: new docs that near-duplicate nothing in
    the corpus (anti-join on the verified pair relation). The surviving
    rows are what the pipeline appends — together with their
    ``minhash_index`` buckets — to keep the index current."""
    pairs = near_dup_vs_corpus(
        new_docs, corpus_docs, index=index, num=num, den=den,
        max_bucket_size=max_bucket_size,
    )
    return new_docs.join(
        pairs.select(F.col("doc_a").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
