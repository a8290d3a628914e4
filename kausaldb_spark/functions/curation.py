"""The capstone training-data operator: end-to-end corpus curation.

Composes the pipeline stages in the order a production data team runs them:

1. quality gate        (integer metrics, functions.text.quality_flag)
2. language filter     (stopword langid — drop 'und')
3. near-dup dedup      (MinHash-LSH pairs → WCC clusters → keep canonicals)
4. decontamination     (drop benchmark docs AND docs sharing ≥2 8-grams
                        with any benchmark doc)
5. split assignment    (growth-stable md5 buckets)

Output: one row per split with document and token counts — the "what does my
training set look like after curation" report. Every stage is a pure
DataFrame transformation over the same persisted corpus scan, so the whole
pipeline is one shuffle per stage boundary, no driver loops.

``curate_and_write`` runs the write path, raw corpus to verified training
shards. Each stage's funnel count is observed on an evaluation that runs
anyway, never taken by a count action of its own. What the pass persists or
checkpoints is released when it returns or raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kausaldb_spark.sources import guard

from kausaldb_spark.functions import text as tx
from kausaldb_spark.functions.dedup import contaminated_docs, minhash_pairs_for
from kausaldb_spark.operators.traversal import weakly_connected_components

BENCHMARK_MAX_ID = 10


def _assert_unique_ids(df: DataFrame, id_col: str = "doc_id") -> int:
    """ADVICE r7: md5-derived copy ids can in principle collide with
    existing ids or each other (birthday bound ~2^28 rows for 56-bit ids),
    and a collision would silently merge training rows. One aggregate over
    the frame the funnel already counts — fail loudly, return the count."""
    n_rows, n_nonnull, n_ids = df.agg(
        F.count("*"), F.count(id_col), F.countDistinct(id_col)
    ).collect()[0]
    # countDistinct ignores NULLs, so a NULL id would otherwise masquerade
    # as a "collision" with a misleading re-seed remediation (ADVICE r8).
    if n_nonnull != n_rows:
        raise ValueError(
            f"NULL {id_col} after mixture upsampling: {n_rows - n_nonnull} "
            f"of {n_rows} rows have no id — fix the id derivation upstream"
        )
    if n_ids != n_rows:
        raise ValueError(
            f"{id_col} collision after mixture upsampling: {n_rows} rows "
            f"but {n_ids} distinct ids — re-seed or widen the id space"
        )
    return int(n_rows)


def _stage_rows(df: DataFrame, obs) -> int:
    """The rows ``obs`` saw on ``df`` once an action whose plan holds the
    observed frame has run: Spark reports to the first such action, so
    this never waits. The report is empty when AQE pruned the observed
    node from the plan that ran (with a stage that came out empty, as in a
    zero-survivor pass); the frame is counted then."""
    row = obs._jo.getRow()
    return int(row.getLong(0)) if row.length() else df.count()


def curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, n_docs, total_tokens) for the curated corpus."""
    from kausaldb_spark.sources.spread import spread_scan

    docs = spread_scan(
        guard.documents_text(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).select("doc_id", "text"),
        key=f"dedup_docs:{sf_dir}",
    )

    toks = tx.tokens(F.col("text"))
    qcols = tx.quality_columns(F.col("text"))
    flagged = docs.select(
        "doc_id", "text",
        F.size(toks).alias("n_tokens"),
        tx.quality_flag(qcols).alias("is_quality"),
        tx.lang_id(toks).alias("pred_lang"),
    )

    # near-dup: keep one canonical per cluster (non-canonicals drop)
    pairs = minhash_pairs_for(docs)
    comp = weakly_connected_components(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"),
            F.lit("near_dup").alias("edge_type"),
        )
    )
    non_canonical = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").cast("bigint").alias("doc_id")
    )

    # decontamination: benchmark docs themselves + overlapping docs
    contaminated = contaminated_docs(spark, sf_dir, BENCHMARK_MAX_ID).select(
        "doc_id"
    ).distinct()

    curated = (
        flagged.where((F.col("is_quality") == 1) & (F.col("pred_lang") != "und"))
        .where(F.col("doc_id") >= BENCHMARK_MAX_ID)
        .join(non_canonical, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    return (
        curated.withColumn("split", tx.split_assignment(F.col("doc_id")))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def curate_and_write(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    targets: dict[str, float] | None = None,
    budget_tokens: int | None = None,
    n_shards: int = 8,
    seed: int = 7,
    fmt: str | None = None,
    benchmark_max_id: int = BENCHMARK_MAX_ID,
    min_compression_ppm: int = 50_000,
    lm_ref_sources: list[str] | None = None,
    lm_max_bits_ppm: int | None = None,
    gopher: bool | dict | None = None,
    gopher_rep: bool = False,
    c4: bool | dict | None = None,
) -> dict:
    """The WHOLE pipeline, ingest to training shards, in one call:

    read (any corpus format) → normalize → quality/lang/compressibility
    gate → exact dedup (on normalized text) → near-dup dedup (MinHash-LSH →
    components → canonicals) → decontaminate → optional token-budget
    mixture → seeded shard shuffle → digest-verified sharded parquet.

    Returns the sink manifest extended with per-stage survivor counts (the
    curation funnel a data team reports). Every stage is a DataFrame
    transformation — the corpus is scanned once into a persisted normalized
    frame, each later stage adds at most one shuffle, and the final write
    is the sink's local-sort shard layout. Each stage runs once and counts
    itself with ``DataFrame.observe`` on an evaluation that runs anyway:
    the fill of its persisted frame, or the mixture's or the write's read
    of near dedup and decontamination. Persisted frames and MinHash
    checkpoints are released when the call returns or raises.
    ``targets``/``budget_tokens`` None skips the mixture stage (dedup-only
    curation)."""
    from pyspark.sql import Observation, Window

    from kausaldb_spark import sinks
    from kausaldb_spark.functions.dedup import components_from_pairs
    from kausaldb_spark.session import releasing
    from kausaldb_spark.sources import corpus as corpus_src

    if (lm_ref_sources is None) != (lm_max_bits_ppm is None):
        raise ValueError(
            "lm_ref_sources and lm_max_bits_ppm must be set together — a "
            "half-configured perplexity gate would be silently skipped"
        )

    # a gate option is ON for True or ANY dict (incl. {} = published
    # thresholds, zero overrides) — plain truthiness would silently skip
    # the gate for {}, which the docstring contract says must run it
    def _gate_on(opt) -> bool:
        return opt is True or isinstance(opt, dict)

    stages: list[tuple[str, DataFrame, Observation]] = []  # funnel order

    def _stage(key: str, df: DataFrame, persist: bool = True) -> DataFrame:
        """``df``, observed (and persisted). An observed frame must appear
        ONCE in the plan that evaluates it; a persisted one does, however
        often its cache is read."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        stages.append((key, df, obs))
        if persist:
            held.append(df.persist())
        return df

    # `kausal curate` runs this pass in the daemon's long-lived session
    with releasing() as held:
        docs = corpus_src.read_documents(spark, in_path, fmt=fmt)
        norm = _stage("ingested", docs.select(
            "doc_id",
            tx.normalize_text(F.col("text")).alias("text"),
            "lang", "source",
        ))

        toks = tx.tokens(F.col("text"))
        qcols = tx.quality_columns(F.col("text"))
        flagged = norm.select(
            "doc_id", "text", "source",
            F.size(toks).alias("n_tokens"),
            tx.quality_flag(qcols).alias("is_quality"),
            tx.lang_id(toks).alias("pred_lang"),
        )
        comp_ok = tx.compression_ratio(norm, min_ratio_ppm=min_compression_ppm).select(
            "doc_id", "too_repetitive"
        )
        # an optional gate reads its input twice (rule columns + the join
        # back), so the gated frame is persisted when one follows; exact
        # dedup alone reads it once
        any_gate = _gate_on(c4) or _gate_on(gopher) or gopher_rep or lm_ref_sources is not None
        gated = _stage("after_quality_gate", (
            flagged.join(comp_ok, "doc_id")
            .where(
                (F.col("is_quality") == 1)
                & (F.col("pred_lang") != "und")
                & (F.col("too_repetitive") == 0)
            )
            .drop("is_quality", "pred_lang", "too_repetitive")
        ), persist=any_gate)

        # each optional gate persists its survivor frame: the gram
        # shuffles of gopher_repetition and the LM joins are the
        # pipeline's most expensive stages and must run once, not once per
        # read of their output

        # optional C4 stage (Raffel et al. 2020 §2.2): pages failing the page
        # rules (≥3 sentences after line cleaning, curly bracket, blocked
        # phrase) DROP, and surviving pages are REPLACED by their cleaned
        # text (the javascript/short/unterminated lines removed) with
        # n_tokens recomputed — downstream dedup/mixture see what C4 would
        # train on, not the raw page. Map-only pass + one doc_id join; sits
        # first among the optional gates. ``c4=True`` applies the published
        # thresholds; a dict overrides them
        if _gate_on(c4):
            overrides = c4 if isinstance(c4, dict) else {}
            cleaned = (
                tx.c4_rules(gated.select("doc_id", "text"), kept_text=True, **overrides)
                .where(F.col("c4_keep"))
                .select("doc_id", F.col("c4_text").alias("_c4_text"))
            )
            gated = _stage("after_c4_rules", (
                gated.join(cleaned, "doc_id")  # inner join = gate + replace
                .withColumn("text", F.col("_c4_text"))
                .drop("_c4_text")
                .withColumn("n_tokens", F.size(tx.tokens(F.col("text"))))
            ))

        # optional Gopher Appendix-A word/line rule gate (Rae et al. 2021):
        # stricter than the cheap quality gate (stop-word presence, symbol
        # ratio, bullet/duplicate-line fractions). Same early position — every
        # doc dropped here skips the LM join and all dedup shuffles.
        # ``gopher=True`` applies the published thresholds; a dict overrides
        # them (e.g. {"min_req_stopwords": 0} for a non-English corpus)
        if _gate_on(gopher):
            overrides = gopher if isinstance(gopher, dict) else {}
            ok = tx.gopher_quality(
                gated.select("doc_id", "text"), **overrides
            ).where(F.col("gopher_pass")).select("doc_id")
            gated = _stage("after_gopher_rules", gated.join(ok, "doc_id", "left_semi"))

        # optional Gopher n-gram repetition gate (Appendix A.2: top-{2,3,4}-gram
        # and overlap-once dup-{5..10}-gram char fractions at the published
        # thresholds) — the within-doc repetition screen the compression-ratio
        # gate approximates; same early position, one gram shuffle
        if gopher_rep:
            ok = (
                tx.gopher_repetition(gated.select("doc_id", "text"))
                .where(F.col("rep_pass"))
                .select("doc_id")
            )
            gated = _stage("after_gopher_repetition", gated.join(ok, "doc_id", "left_semi"))

        # optional CCNet-style LM perplexity gate: train a hashed-bigram LM on
        # the named reference sources (post-quality-gate, so the LM never
        # learns from boilerplate the gate already rejected) and drop docs
        # whose integer bits/token exceed the threshold. Runs before dedup —
        # it is pure codegen + two bounded joins, so gating early shrinks the
        # MinHash/shingle volume downstream.
        if lm_ref_sources is not None:
            ref = gated.where(F.col("source").isin(*lm_ref_sources)).select(
                "doc_id", "text"
            )
            fluent = tx.perplexity_filter(
                gated.select("doc_id", "text"), ref, lm_max_bits_ppm
            ).where(F.col("kept")).select("doc_id")
            gated = _stage("after_lm_filter", gated.join(fluent, "doc_id", "left_semi"))

        # exact dedup on NORMALIZED text: keep min doc_id per digest (one
        # digest-keyed shuffle; payload rides it once). Persisted: three
        # downstream consumers (near-dup hashing, decontamination shingles,
        # the final select) must not re-run the gate chain — the zlib UDF in
        # particular — once per consumer.
        keep_rank = F.row_number().over(
            Window.partitionBy(F.md5("text")).orderBy("doc_id")
        )
        exact = _stage("after_exact_dedup", (
            gated.withColumn("_rk", keep_rank).where(F.col("_rk") == 1).drop("_rk")
        ))

        # near-dup canonicals over the exact-deduped survivors. MinHash's
        # first action fills every frame above, so each stage so far has
        # reported its count, and all but `exact` have no more consumers
        pairs = minhash_pairs_for(exact.select("doc_id", "text"))
        funnel = {key: _stage_rows(df, obs) for key, df, obs in stages}
        for df in held[:-1]:
            df.unpersist()
        comp = components_from_pairs(spark, pairs)
        non_canonical = comp.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        near = exact.join(non_canonical, "doc_id", "left_anti")

        # decontamination vs the benchmark stand-in (doc_id < benchmark_max_id)
        sh8 = near.select(
            "doc_id",
            F.explode(
                F.array_distinct(tx.shingles(tx.tokens(F.col("text")), 8))
            ).alias("shingle"),
        )
        bench = sh8.where(F.col("doc_id") < benchmark_max_id).selectExpr(
            "doc_id AS benchmark_id", "shingle"
        )
        dirty = (
            sh8.where(F.col("doc_id") >= benchmark_max_id)
            .join(bench, "shingle")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= 2)
            .select("doc_id")
        )
        # both observed on the first action over `clean` (the mixture's or
        # the write); `near` also feeds both shingle branches above, so only
        # the clean branch's reference is observed
        clean = _stage("after_decontamination", (
            _stage("after_near_dedup", near, persist=False)
            .where(F.col("doc_id") >= benchmark_max_id)
            .join(dirty, "doc_id", "left_anti")
        ), persist=False)

        # optional token-budget mixture (adds copy_idx; the shard id must
        # incorporate the copy to keep training rows unique). copy_idx == 0 keeps
        # the original doc_id (identity is preserved for the un-upsampled corpus);
        # extra epochs get a fresh content-address-style 56-bit id derived from
        # md5(doc_id, copy_idx) by sources.corpus._synth_id, so it is safe for
        # ANY doc_id magnitude (a `doc_id * K + copy_idx` salt overflows bigint
        # for the 56-bit synthesized ids) and collision odds match the
        # onboarding ids'.
        mixture = targets is not None and budget_tokens is not None
        if mixture:
            salted = corpus_src._synth_id(
                F.col("copy_idx").cast("string"), F.col("doc_id").cast("string")
            )
            mixed = tx.apply_mixture(
                clean, targets, budget_tokens, key_col="doc_id", source_col="source",
                max_weight_ppm=999_000_000,
            ).withColumn(
                "doc_id",
                F.when(F.col("copy_idx") == 0, F.col("doc_id")).otherwise(salted),
            ).drop("copy_idx")
            n_mixed = _assert_unique_ids(mixed)
        else:
            mixed = clean

        manifest = sinks.write_training_shards(
            mixed.select("doc_id", "text", "source"),
            out_path, n_shards=n_shards, seed=seed,
        )
        funnel.update((key, _stage_rows(df, obs)) for key, df, obs in stages[len(funnel):])
    if mixture:
        funnel["after_mixture"] = n_mixed
    manifest["funnel"] = funnel
    return manifest
