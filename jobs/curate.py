"""spark-submit entrypoint for the training-data CURATION pipeline —
the 100 TB use case the operators exist for, chained end to end. The
stages in the order the funnel's stage ledger records them ([] =
optional):

    read_input            the documents parquet (spread over the cores
                          when its scan cannot split)
    extract               interleaved docs → span table (mapInArrow)
    quality_gates         length / token / digit-ratio (+ Gopher) gates
    [strip_boilerplate]   CCNet-style corpus-frequent line removal
    exact_dedup           keep the lowest doc_id per md5(full_text)
    near_dup_drop         drop the higher doc_id of every near-dup pair
                          found by MinHash LSH
                          (--cluster-resolve: all but each cluster's min)
    [decon]               eval-set n-gram anti-join, when a stage below
                          counts it first
    [quality_classifier]  learned logistic-regression quality filter
    [dsir_select]         DSIR top fraction by importance weight
    [mix_plan]            token-budget mixture plan
    decon_redact_write    parquet write + whatever is still lazy (decon,
                          PII redaction, shuffle); mix_select_redact_write
                          when it also runs the mixture selection

→ curated parquet + ONE JSON line of funnel counts read off the ledger.

Each stage's row count rides on a Spark action the funnel runs anyway.
Most stages run their own action and are timed by it. read_input and
quality_gates are counted by a DataFrame.observe on their frame
instead, read after the next stage's action runs that frame: extract's
persist+count closes read_input, and exact_dedup's persist+count
(strip_boilerplate's, when set) closes quality_gates. A stage closed by
another stage's action records wall_s 0.0; the action's time goes to
the last stage it closes. The final write's row count is observed on
the written frame too.

Every stage is one of the tested library operators; this job is the
composition, not new logic. Scale notes: the only Python stage is the
extraction UDF; quality gates are codegen filters; both dedups shuffle
once on their key (hash / band bucket with the mega-bucket cap); the
near-dup drop side is a distinct-id anti-join whose strategy AQE picks
at runtime (broadcast only when measured small — a forced broadcast
would OOM at crawl-scale dup rates).

    spark-submit --py-files dist/docling_pdf_spark.zip jobs/curate.py \
        --input <documents parquet> --output <curated path> \
        [--min-chars 80] [--max-digit-ratio 0.3] [--jaccard 0.8] \
        [--near-dup minhash]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NEAR_DUP_MODES = ("minhash",)

# ledger stage → the funnel key its rows_in − rows_out counts toward;
# unlisted stages drop no rows. Decon's drop lands in whichever of its two
# stages ran it; without decon the final write drops nothing, has no key.
DROP_KEYS = {
    "extract": "dropped_extraction_failed",
    "quality_gates": "dropped_quality",
    "exact_dedup": "dropped_exact_dups",
    "near_dup_drop": "dropped_near_dups",
    "decon": "dropped_contaminated",
    "quality_classifier": "dropped_quality_model",
    "dsir_select": "dropped_dsir",
    "decon_redact_write": "dropped_contaminated",
    "mix_select_redact_write": "dropped_mix_budget",
}


def _dsir_keep_count(n: int, frac: float) -> int:
    """Floor of the EXACT product (the +1e-9 absorbs float
    representation error: 90*0.7 = 62.99999... must keep 63,
    review-found); keep at least one doc when any survive — a tiny
    corpus at frac 0.5 silently dropping EVERYTHING is never what the
    flag meant."""
    if n <= 0:
        return 0
    return max(1, math.floor(n * frac + 1e-9))


def curate(
    spark,
    input_path: str,
    output_path: str,
    min_chars: int = 80,
    min_tokens: int = 10,
    max_digit_ratio: float = 0.3,
    jaccard: float = 0.8,
    num_partitions: int | None = None,
    near_dup: str = "minhash",
    cluster_resolve: bool = False,
    strip_boilerplate: int | None = None,
    decon_eval: str | None = None,
    decon_gram_words: int = 8,
    max_dup_line_frac: float | None = None,
    max_dup_para_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    max_top_3gram_frac: float | None = None,
    max_top_4gram_frac: float | None = None,
    max_symbol_word_ratio: float | None = None,
    max_bullet_line_frac: float | None = None,
    max_ellipsis_line_frac: float | None = None,
    redact_pii: bool = False,
    redact_pii_aggressive: bool = False,
    mix_budget: int | None = None,
    mix_weights: dict[str, int] | None = None,
    mix_stratum: str = "producer",
    shuffle_seed: int | None = None,
    dsir_target: str | None = None,
    dsir_keep_frac: float = 0.5,
    quality_exemplars: str | None = None,
    quality_threshold: float = 0.5,
):
    """documents → curated extracted corpus; returns the funnel dict.

    near_dup: 'minhash' (word-level Jaccard estimate ≥ `jaccard`), the
    only detector; it has a planted-truth test
    (tests/test_planted_near_dups.py). Winnowing was measured in its
    place on the curate_funnel input and caught fewer planted pairs
    (138 of 200 against 183) at about 3.7× the wall time. The keyword
    stays because perfbench/workloads.py passes near_dup="minhash".

    decon_eval: optional parquet of benchmark/eval documents (needs a
    `text` column); any curated doc sharing a word-`decon_gram_words`-
    gram with the eval set is dropped (n-gram decontamination,
    operators/dedup.decontamination_hits: the eval gram set is distinct
    + broadcast, so the training side pays one narrow gram pass and no
    corpus-scale shuffle)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from docling_pdf_spark.functions.scanspread import spread_unsplittable
    from docling_pdf_spark.functions.text import digit_ratio, token_count
    from docling_pdf_spark.operators.components import resolve_duplicates
    from docling_pdf_spark.operators.dedup import minhash_lsh_dedup
    from docling_pdf_spark.pipeline import extract

    def _join_text_spans(delim: str) -> "F.Column":
        # the ONE definition of "a document's text" for the gates below
        # (the repetition gate re-joins with '\n\n' — same span
        # selection, different delimiter; keep them from drifting)
        return F.array_join(
            F.transform(
                F.filter(F.coalesce(F.col("spans"), F.array()),
                         lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            delim,
        )

    # fail fast on argument mistakes BEFORE any Spark action runs — a
    # bad flag must not cost the whole funnel (review-found)
    if near_dup not in NEAR_DUP_MODES:
        raise ValueError(f"unknown near_dup mode: {near_dup}")
    if decon_eval and decon_gram_words < 2:
        # 0 would make every position the empty gram '' on BOTH
        # sides → the whole corpus flags contaminated (review-found)
        raise ValueError(f"decon_gram_words must be >= 2, got {decon_gram_words}")
    if (mix_budget is None) != (mix_weights is None):
        raise ValueError("mix_budget and mix_weights must be set together")
    if mix_budget is not None:
        from docling_pdf_spark.operators.mixer import _check_weights

        _check_weights(mix_weights)
        if mix_budget < 0:
            raise ValueError(f"mix_budget must be >= 0, got {mix_budget}")
    if dsir_target is not None and not (0.0 < dsir_keep_frac <= 1.0):
        raise ValueError(
            f"dsir_keep_frac must be in (0, 1], got {dsir_keep_frac}"
        )
    if quality_exemplars is not None and not (
        0.0 <= quality_threshold <= 1.0
    ):
        raise ValueError(
            f"quality_threshold must be in [0, 1], got {quality_threshold}"
        )
    # eager side-input contract checks: a bad path or schema must not
    # cost the whole funnel (review-found — the exemplar read used to
    # happen only after the corpus had already been processed). Schema
    # reads are footer-only; the label-domain probe is one job over
    # the SMALL exemplar file, never the corpus. Each path is read once
    # (each read infers the schema in its own Spark job); the checks and
    # read_exemplars reuse the frame.
    exemplars = {}  # path → its DataFrame
    for _path, _need in (
        (decon_eval, {"text"}),
        (dsir_target, {"text"}),
        (quality_exemplars, {"text", "label"}),
    ):
        if _path:
            if _path not in exemplars:
                exemplars[_path] = spark.read.parquet(_path)
            _cols = set(exemplars[_path].columns)
            if not _need <= _cols:
                raise ValueError(
                    f"exemplar parquet {_path!r} must have columns "
                    f"{sorted(_need)}, found {sorted(_cols)}"
                )
    if quality_exemplars is not None:
        _label = F.col("label").try_cast("double")
        _bad = (
            exemplars[quality_exemplars]
            .where(
                # validate WITHOUT truncation: cast-to-int would floor
                # a fractional label like 0.9 to 0 and let it pass,
                # only to crash hours later at LogisticRegression.fit.
                # try_cast: an uncastable label like 'yes' is NULL
                # (flagged) under either ANSI mode, where cast would
                # pass it (ANSI off) or crash (on).
                _label.isNull() | ~_label.isin(0.0, 1.0)
            )
            .limit(1)
            .count()
        )
        if _bad:
            raise ValueError(
                "quality_exemplars labels must all be 0 or 1 (a "
                "multi-class label would silently fit a multinomial "
                "model and crash at scoring)"
            )

    # per-stage observability (r5 VERDICT #6): Spark is lazy, so each
    # stage's wall time is attributed to the ACTION that materializes
    # it. The stages list is THE ledger: it rides in the funnel JSON so a
    # 100 TB operator can see which stage moved without a bench harness,
    # and every funnel count below is read from it.
    stages: list[dict] = []
    # stages whose row count is observed on their frame, waiting for the
    # next _stage action to run that frame
    observed: list[tuple[str, Observation]] = []

    def _record(name: str, wall_s: float, rows_out: int):
        rows_in = stages[-1]["rows_out"] if stages else None
        stages.append({"stage": name, "wall_s": wall_s,
                       "rows_in": rows_in, "rows_out": rows_out})

    def _observe(name: str, df):
        seen = Observation()
        observed.append((name, seen))
        return df.observe(seen, F.count(F.lit(1)).alias("n"))

    def _stage(name: str, action):
        t = time.perf_counter()
        out = action()
        wall_s = round(time.perf_counter() - t, 3)
        for pending, seen in observed:
            _record(pending, 0.0, seen.get["n"])
        observed.clear()
        _record(name, wall_s, out)
        return out

    # every frame curate() persists, released on EVERY exit: a raising
    # stage must not leave the extraction (or any later cache) pinned
    # in the session
    cached: list = []

    def _persist(df):
        cached.append(df.persist())
        return df

    try:
        # a one-row-group input would run the extraction kernel, and
        # every narrow stage up to the first shuffle, as ONE task
        docs = _observe(
            "read_input", spread_unsplittable(spark.read.parquet(input_path))
        )

        extracted = extract(docs, num_partitions=num_partitions)
        # full_text for the text operators: re-join the text spans (JVM)
        with_text = extracted.withColumn("full_text", _join_text_spans("\n"))
        # eager --mix-stratum validation (round-6 advice, low): a typo'd
        # stratum column must fail HERE, before the whole funnel (extract,
        # dedup, decon, classifier, dsir) has executed and been paid for —
        # the withColumn inside the mix stage would only raise at the end.
        if mix_budget is not None and mix_stratum not in with_text.columns:
            raise ValueError(
                f"--mix-stratum {mix_stratum!r} is not a column of the "
                f"extracted frame; available: {sorted(with_text.columns)}"
            )
        # persist at the extraction boundary: every downstream read until
        # the exact-dedup cache reuses ONE pass of the (dominant-cost)
        # Python UDF stage
        ok = _persist(with_text.where(F.col("extraction_successful")))
        _stage("extract", ok.count)
        # quality gates — pure codegen predicates on the extracted text
        quality = ok.where(
            (F.col("n_chars") >= min_chars)
            & (token_count("full_text") >= min_tokens)
            & (digit_ratio("full_text") <= max_digit_ratio)
        )
        # optional Gopher line-shape gates — pure per-row expressions over
        # the '\n'-joined text (no shuffle; they fuse into the same
        # codegen filter stage as the length gates above)
        line_shape_thresholds = [
            ("symbol_word_ratio", max_symbol_word_ratio),
            ("bullet_line_frac", max_bullet_line_frac),
            ("ellipsis_line_frac", max_ellipsis_line_frac),
        ]
        if any(v is not None for _, v in line_shape_thresholds):
            from docling_pdf_spark.operators import quality as Q

            for name, v in line_shape_thresholds:
                if v is not None:
                    quality = quality.where(getattr(Q, name)(F.col("full_text")) <= v)
        # optional Gopher-style repetition gates (dup-line / dup-paragraph /
        # top-bigram fractions): a second quality sub-stage — the signals
        # need an explode+agg per doc, so they only run when a threshold is
        # actually set. Shuffles on doc_id; the semi-join back is
        # co-partitioned on the same key.
        rep_thresholds = [
            ("dup_line_frac", max_dup_line_frac),
            ("dup_para_frac", max_dup_para_frac),
            ("top_bigram_frac", max_top_bigram_frac),
            ("top_3gram_frac", max_top_3gram_frac),
            ("top_4gram_frac", max_top_4gram_frac),
        ]
        if any(v is not None for _, v in rep_thresholds):
            from docling_pdf_spark.operators.quality import repetition_stats

            # join the text SPANS with '\n\n' for this pass: each extracted
            # block is a paragraph, so the \n{2,} paragraph split sees real
            # boundaries (full_text's single-'\n' join would make every doc
            # one paragraph and the dup-para gate inert — review-found);
            # line semantics are unchanged (split on '\n' drops the empty
            # string between blocks). Only the thresholded signals are
            # computed — the bigram pass is the expensive one.
            rep_text = _join_text_spans("\n\n")
            rep = repetition_stats(
                quality.select("doc_id", rep_text.alias("text")),
                signals=tuple(c for c, v in rep_thresholds if v is not None),
            )
            for col, v in rep_thresholds:
                if v is not None:
                    rep = rep.where(F.col(col) <= v)
            quality = quality.join(rep.select("doc_id"), "doc_id", "left_semi")
        quality = _observe("quality_gates", quality)

        # optional corpus-frequency boilerplate strip (CCNet-style): lines
        # shared by >= N distinct docs are removed from every TEXT SPAN,
        # offsets rebuilt, media links remapped (operators/boilerplate.py).
        # Runs BEFORE dedup on purpose: shared footers/banners inflate
        # every downstream similarity (two unrelated pages sharing a 40-word
        # cookie banner look near-dup), so dedup must see cleaned text.
        # full_text and the char/word metrics are recomputed from the
        # rebuilt spans so the gates' single source of truth stays true.
        extra: dict = {}  # funnel keys that are not row counts
        if strip_boilerplate is not None:
            from docling_pdf_spark.operators.boilerplate import (
                strip_boilerplate_spans,
            )

            def _strip_and_count():
                nonlocal quality
                stripped = strip_boilerplate_spans(
                    quality, min_docs=strip_boilerplate
                )
                quality = _persist(
                    stripped.withColumn("full_text", _join_text_spans("\n"))
                    .withColumn("n_chars", F.length("full_text").cast("long"))
                    .withColumn("n_words", token_count("full_text").cast("long"))
                )
                n, removed = quality.agg(
                    F.count(F.lit(1)), F.sum("n_boilerplate_removed")
                ).first()
                extra["removed_boilerplate_lines"] = int(removed or 0)
                quality = quality.drop("n_boilerplate_removed")
                return n

            _stage("strip_boilerplate", _strip_and_count)

        # exact dedup: keep the lexicographically-first doc_id per text hash
        # — one shuffle on the hash (a broadcast keeper list would be
        # corpus-sized at realistic dup rates and OOM at 100 TB)
        from pyspark.sql import Window

        w = Window.partitionBy(F.md5("full_text")).orderBy("doc_id")
        # persisted: MinHash, the cluster input and the drop side all read
        # it, so extraction and the quality gates (the repetition kernel)
        # run once
        exact = _persist(
            quality.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        _stage("exact_dedup", exact.count)
        # everything downstream reads exact: release the caches above it
        for df in cached[:-1]:
            df.unpersist()

        # near-dup drop: for every candidate pair, drop doc_b
        # (deterministic: pairs are emitted with doc_a < doc_b)
        texts = exact.select("doc_id", F.col("full_text").alias("text"))
        pairs = minhash_lsh_dedup(texts, threshold=jaccard)
        # two drop semantics:
        #   pairwise (default): drop doc_b of every pair — keeps every doc
        #     that is never the larger of a pair. Two docs that are both
        #     near-dups of a THIRD (but whose own pair fell under the LSH
        #     threshold) BOTH survive.
        #   cluster (--cluster-resolve): connected components over the
        #     pairs, keep exactly one doc (the min id) per duplicate
        #     cluster — the published-pipeline semantics (transitive
        #     closure). A strict superset of the pairwise drop set: any
        #     doc_b's component min is <= its doc_a < doc_b.
        # The cluster path runs the iterative star-contraction EAGERLY
        # (localCheckpoint per round), so it is built inside the timed
        # stage action to keep the funnel's wall attribution honest.
        curated = None

        def _near_drop_and_count():
            nonlocal curated
            if cluster_resolve:
                curated = resolve_duplicates(exact, pairs)
            else:
                # no broadcast hint: on real crawl data near-dup rates hit
                # 30-50%, so the drop list is O(duplicate docs) — TB-scale
                # at 100 TB input — and a forced broadcast OOMs the Spark
                # driver (round-2 ADVICE). AQE picks broadcast on its own
                # when the built side is measured small.
                drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
                curated = exact.join(drop, "doc_id", "left_anti")
            # persist + count at the near-dup boundary (always, since r6):
            # the count IS the near_dup stage's timing action, and the
            # persisted set is reused by the decon subtree (both sides) and
            # the final write instead of re-running the pair DAG
            # (review-found in r4 for the decon path; unified here for
            # stage observability)
            curated = _persist(curated)
            return curated.count()

        _stage("near_dup_drop", _near_drop_and_count)

        # THE whitespace-normalization rule for every gram consumer (decon
        # AND dsir): full_text joins spans with '\n' and exemplar dumps
        # carry newlines — split-on-space would otherwise produce
        # 'word8\nword9' tokens that never match across the boundary
        # (review-found; one definition so the stages can't drift)
        def ws_norm(c):
            return F.regexp_replace(F.trim(c), r"\s+", " ")

        def read_exemplars(path, label=False):
            # THE exemplar parquet contract: a `text` column (+ `label`
            # when asked) — one reader for decon, dsir AND the classifier
            # so the normalization rule can't drift (review-found dup)
            if not label:
                return exemplars[path].select(
                    F.lit(0).cast("long").alias("doc_id"),
                    ws_norm(F.col("text")).alias("text"),
                )
            # deterministic unique id: monotonically_increasing_id was
            # review-found nondeterministic across the feature/label
            # join's two scans (silent label misalignment). Exemplar sets
            # are small by construction — the single-partition window is
            # bounded by them, never by the corpus.
            return exemplars[path].select(
                ws_norm(F.col("text")).alias("text"), F.col("label")
            ).withColumn(
                "doc_id",
                F.row_number().over(Window.orderBy("text", "label")).cast("long"),
            )

        if decon_eval:
            from docling_pdf_spark.operators.dedup import decontamination_hits

            hits = decontamination_hits(
                curated.select("doc_id", ws_norm(F.col("full_text")).alias("text")),
                read_exemplars(decon_eval),
                decon_gram_words,
            )
            curated = curated.join(hits.select("doc_id"), "doc_id", "left_anti")

        def _materialize(df):
            # persist at a selection boundary (classifier, dsir, mix); the
            # first one after the near-dup stage counts the lazy decon
            # anti-join, so it closes the `decon` stage
            df = _persist(df)
            if decon_eval and stages[-1]["stage"] == "near_dup_drop":
                _stage("decon", df.count)
            return df

        def _select(name, keep_ids):
            # keep the doc_ids keep_ids(survivors, n_survivors) returns;
            # the narrow keep list is persisted, else the whole scoring DAG
            # re-executes at the next action (review-found: it ran 2x)
            base = _materialize(curated)

            def _keep_and_count():
                nonlocal curated
                keep = _persist(keep_ids(base, stages[-1]["rows_out"]))
                curated = base.join(keep, "doc_id", "left_semi")
                return curated.count()

            _stage(name, _keep_and_count)

        if quality_exemplars is not None:
            # learned quality gate (CCNet-style): LR trained on labeled
            # exemplars (parquet with text + label∈{0,1}), scored over the
            # surviving corpus's full_text; keep P(quality) >= threshold
            from docling_pdf_spark.operators.classifier import (
                score_quality,
                train_quality_classifier,
            )

            def _quality_keep(base, n):
                model = train_quality_classifier(
                    read_exemplars(quality_exemplars, label=True)
                )
                scored = score_quality(
                    base.select("doc_id", ws_norm(F.col("full_text")).alias("text")),
                    model,
                )
                return scored.where(
                    F.col("quality_prob") >= quality_threshold
                ).select("doc_id")

            _select("quality_classifier", _quality_keep)
        if dsir_target is not None:
            # DSIR data selection (Xie et al. 2023): score every surviving
            # doc by the hashed-bigram target/raw log-likelihood ratio and
            # keep the top dsir_keep_frac by weight — exact top-k via the
            # distributed rank kernel, never a single-task sort
            from docling_pdf_spark.operators.dsir import (
                dsir_log_ratios,
                dsir_weights,
            )
            from docling_pdf_spark.operators.shuffle import global_row_number

            def _dsir_keep(base, n):
                raw_txt = base.select(
                    "doc_id", ws_norm(F.col("full_text")).alias("text")
                )
                tgt = read_exemplars(dsir_target)
                ratios = dsir_log_ratios(raw_txt, tgt)
                w = dsir_weights(raw_txt, ratios)
                ranked = global_row_number(
                    w,
                    [F.col("dsir_logweight").desc(), F.col("doc_id").asc()],
                    out_col="_dsir_rank",
                )
                k = _dsir_keep_count(n, dsir_keep_frac)
                return ranked.where(F.col("_dsir_rank") <= k).select("doc_id")

            _select("dsir_select", _dsir_keep)
        curated = curated.drop("full_text")
        if mix_budget is not None:
            # final stage: token-budget mixture (water-filling over the
            # stratum column; strata absent from the weight table are
            # dropped — only the planned mixture enters the corpus). The
            # fill order is deterministic: longest docs first, id tiebreak.
            from docling_pdf_spark.operators.mixer import (
                fill_to_allocation,
                token_budget_mix,
            )

            # persist ONCE: the plan aggregate, the selection's offsets
            # branch and its cumsum branch all re-read this cache instead
            # of re-running the funnel lineage (review-found: with decon
            # enabled the gram-explosion anti-join was executing ~5x)
            based = _materialize(curated.withColumn(
                "_stratum",
                F.coalesce(F.col(mix_stratum).cast("string"), F.lit("unknown")),
            ))

            def _plan():
                nonlocal curated
                plan = token_budget_mix(
                    based, mix_weights, mix_budget,
                    stratum_col="_stratum", tokens_col="n_words",
                )
                extra["mix_plan"] = [r.asDict() for r in plan.collect()]
                # rebuild the (tiny, one-row-per-stratum) plan from the rows
                # just collected so the two broadcast joins inside
                # fill_to_allocation don't re-run the plan aggregation
                plan = spark.createDataFrame(extra["mix_plan"], schema=plan.schema)
                curated = fill_to_allocation(
                    based, plan,
                    stratum_col="_stratum", tokens_col="n_words",
                    id_col="doc_id", order_by=-F.col("n_chars"),
                ).drop("_stratum")
                # planning drops nothing; the selection runs at the write
                return stages[-1]["rows_out"]

            _stage("mix_plan", _plan)
        if redact_pii or redact_pii_aggressive:
            # scrub emails/phones/IPv4s from every span text — one JVM
            # transform over the payload column, applied only to the
            # surviving rows (scrubbing pre-funnel would pay the regex on
            # docs that get dropped anyway)
            from docling_pdf_spark.functions.pii import redact_spans

            curated = curated.withColumn(
                "spans", redact_spans("spans", aggressive=redact_pii_aggressive)
            )
        if shuffle_seed is not None:
            # seeded training-order shuffle: every surviving doc gets a
            # dense 1-based shuffle_rank (portable md5 key, distributed
            # prefix-sum — no corpus-wide single-task sort), and the
            # output files are physically range-ordered by rank: reading
            # the part files in NAME order yields the shuffled order
            # (spark.read orders splits by size — re-sort by rank there)
            from docling_pdf_spark.operators.shuffle import deterministic_shuffle

            nparts = num_partitions or spark.sparkContext.defaultParallelism
            curated = (
                deterministic_shuffle(curated, shuffle_seed)
                .repartitionByRange(nparts, "shuffle_rank")
                .sortWithinPartitions("shuffle_rank")
            )
        # the final stage covers whatever is still unmaterialized: with
        # mix on, decon was already counted at the mix boundary so this is
        # the mixture selection + PII redaction + parquet IO; without mix
        # it is decon (when set) + redaction + IO. Its row count is
        # observed on the written frame.
        def _write_and_count():
            written = Observation()
            curated.observe(written, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(output_path)
            return written.get["n"]

        _stage(
            "mix_select_redact_write" if mix_budget is not None
            else "decon_redact_write",
            _write_and_count,
        )

        # the funnel counts are read off the ledger, so they always sum:
        # input = every dropped_* + kept
        rows_out = {s["stage"]: s["rows_out"] for s in stages}
        drops: dict[str, int] = {}
        for s in stages:
            key = DROP_KEYS.get(s["stage"])
            if key and (decon_eval or key != "dropped_contaminated"):
                drops[key] = drops.get(key, 0) + s["rows_in"] - s["rows_out"]
        return {
            "n_input": rows_out["read_input"],
            "n_extracted_ok": rows_out["extract"],
            "n_quality": rows_out["quality_gates"],
            "n_after_exact_dedup": rows_out["exact_dedup"],
            "n_curated": stages[-1]["rows_out"],
            **drops,
            **extra,
            "stages": stages,
        }
    finally:
        for df in cached:
            df.unpersist()


def _parse_mix_weights(s: str) -> dict[str, int]:
    """argparse type for --mix-weights: 'stratum=int,stratum=int'.
    Raises ArgumentTypeError (a proper usage error naming the flag)
    on a missing '=', a non-integer weight, or a repeated stratum —
    instead of an opaque unpacking traceback / silent last-wins dedupe
    (review-found)."""
    out: dict[str, int] = {}
    for kv in s.split(","):
        if "=" not in kv:
            raise argparse.ArgumentTypeError(
                f"--mix-weights entry {kv!r} must be STRATUM=WEIGHT"
            )
        k, v = kv.split("=", 1)
        k = k.strip()
        try:
            w = int(v)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"--mix-weights weight for {k!r} must be an integer, "
                f"got {v!r}"
            ) from None
        if k in out:
            raise argparse.ArgumentTypeError(
                f"--mix-weights names stratum {k!r} more than once"
            )
        out[k] = w
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", dest="input_path", required=True)
    ap.add_argument("--output", dest="output_path", required=True)
    ap.add_argument("--min-chars", type=int, default=80)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--max-digit-ratio", type=float, default=0.3)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--near-dup", choices=NEAR_DUP_MODES,
                    default="minhash",
                    help="near-dup detector: whole-doc Jaccard estimate "
                         "(minhash, the only one)")
    ap.add_argument("--strip-boilerplate", type=int, default=None,
                    metavar="MIN_DOCS",
                    help="remove lines appearing in >= MIN_DOCS distinct "
                         "docs from every text span (CCNet-style corpus "
                         "line dedup; offsets rebuilt, media links "
                         "remapped); runs before dedup so shared "
                         "footers stop inflating similarity")
    ap.add_argument("--cluster-resolve", action="store_true",
                    help="resolve near-dup PAIRS into duplicate "
                         "CLUSTERS (connected components) and keep one "
                         "doc per cluster, instead of the pairwise "
                         "drop-the-larger rule")
    ap.add_argument("--decon-eval", default=None,
                    help="parquet of benchmark docs (text column); curated "
                         "docs sharing any word-n-gram with it are dropped")
    ap.add_argument("--decon-gram-words", type=int, default=8)
    ap.add_argument("--max-dup-line-frac", type=float, default=None,
                    help="drop docs whose duplicate-line fraction exceeds "
                         "this (Gopher uses 0.30); off by default")
    ap.add_argument("--max-dup-para-frac", type=float, default=None,
                    help="duplicate-paragraph fraction gate (Gopher 0.30)")
    ap.add_argument("--max-top-bigram-frac", type=float, default=None,
                    help="top-bigram share gate (Gopher 0.20)")
    ap.add_argument("--max-top-3gram-frac", type=float, default=None,
                    help="top-3-gram share gate (Gopher 0.18)")
    ap.add_argument("--max-top-4gram-frac", type=float, default=None,
                    help="top-4-gram share gate (Gopher 0.16)")
    ap.add_argument("--max-symbol-word-ratio", type=float, default=None,
                    help="hash/ellipsis symbols per word gate (Gopher 0.1)")
    ap.add_argument("--max-bullet-line-frac", type=float, default=None,
                    help="fraction of bullet-started lines gate (Gopher 0.9)")
    ap.add_argument("--max-ellipsis-line-frac", type=float, default=None,
                    help="fraction of ellipsis-ended lines gate (Gopher 0.3)")
    ap.add_argument("--redact-pii", action="store_true",
                    help="scrub emails/phones/SSNs/IPv4 from the curated "
                         "span texts (typed [EMAIL]/[PHONE]/[SSN]/[IP] tokens)")
    ap.add_argument("--redact-pii-aggressive", action="store_true",
                    help="additionally scrub bare 10/11-digit NANP runs and "
                         "IBANs (documented FP classes: unix timestamps, "
                         "10-digit order ids — see functions/pii.py)")
    ap.add_argument("--mix-budget", type=int, default=None,
                    help="total token budget for the final mixture stage "
                         "(exact water-filling over --mix-stratum; "
                         "requires --mix-weights)")
    ap.add_argument("--mix-weights", type=_parse_mix_weights, default=None,
                    help="comma list stratum=weight (positive int grain), "
                         "e.g. 'sparkpdf 2.1=500000,unknown=100000'; "
                         "strata not listed are dropped")
    ap.add_argument("--mix-stratum", default="producer",
                    help="column to stratify the mixture on (NULL values "
                         "map to 'unknown')")
    ap.add_argument("--shuffle-seed", type=int, default=None,
                    help="seeded training-order shuffle: adds a dense "
                         "shuffle_rank column and writes the output "
                         "physically ordered by it (same seed -> same "
                         "order on any cluster size)")
    ap.add_argument("--dsir-target", default=None,
                    help="parquet of exemplar docs (column `text`): "
                         "DSIR-select the top --dsir-keep-frac of the "
                         "surviving corpus by hashed-bigram target/raw "
                         "log-likelihood ratio (Xie et al. 2023)")
    ap.add_argument("--dsir-keep-frac", type=float, default=0.5,
                    help="fraction of docs the DSIR stage keeps (0,1]")
    ap.add_argument("--quality-exemplars", default=None,
                    help="parquet of labeled exemplars (columns `text`, "
                         "`label` in {0,1}): train a logistic-regression "
                         "quality filter and keep docs with "
                         "P(quality) >= --quality-threshold")
    ap.add_argument("--quality-threshold", type=float, default=0.5,
                    help="probability cutoff for --quality-exemplars")
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--local-cores", type=int, default=None)
    ap.add_argument("--gen-docs", type=int, default=None,
                    help="synthesize a deterministic corpus at --input first")
    args = ap.parse_args(argv)
    # a dsir tuning flag without --dsir-target would silently run the
    # whole funnel with no DSIR stage — same fail-fast class as the
    # mix_budget/mix_weights pairing (review-found)
    if args.dsir_target is None and args.dsir_keep_frac != 0.5:
        ap.error("--dsir-keep-frac requires --dsir-target")
    if args.quality_exemplars is None and args.quality_threshold != 0.5:
        ap.error("--quality-threshold requires --quality-exemplars")

    from docling_pdf_spark.fixtures import write_corpus
    from docling_pdf_spark.session import get_spark

    # every other flag is one of curate()'s keywords under its own name
    kwargs = vars(args)
    if gen_docs := kwargs.pop("gen_docs"):
        os.makedirs(os.path.dirname(args.input_path) or ".", exist_ok=True)
        write_corpus(args.input_path, gen_docs)

    spark = get_spark("curate", local_cores=kwargs.pop("local_cores"))
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    funnel = curate(spark, **kwargs)
    funnel["elapsed_sec"] = round(time.perf_counter() - t0, 3)
    funnel["status"] = "done"
    funnel["output"] = args.output_path
    print(json.dumps(funnel))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
