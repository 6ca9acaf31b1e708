"""Corpus-curation facade: one call composing the verified operators.

Each stage is independently oracle-checked in the suite
(dedup_exact / dedup_cluster_components / text_quality /
pipeline_curate_corpus prove the composition semantics); this module is
the library front door that strings them together with a config object
and returns both the curated corpus and a per-stage accounting report —
the two artifacts every training-data run needs.

Design for 100 TB: every stage is a DataFrame transformation (digests
and (long, long) labels shuffle, never bodies); stages toggle off
independently. Each stage's survivor set is materialized
(MEMORY_AND_DISK persist, or a localCheckpoint lineage barrier every
``_TRUNCATE_EVERY``-th stage — persist keeps full lineage and the
self-joining stages grow the analyzed plan multiplicatively, see
materialize()) before its count, and the predecessor's cache is
released, so the per-stage accounting costs ONE materialization per
stage — the expensive upstream operators (exact dedup, MinHash-LSH,
connected components) run exactly once regardless of how many stages
follow them. Barrier blocks have no recompute lineage: an executor
loss after a barrier fails the call (rerun it) — the price of a
bounded driver plan. The final corpus is returned persisted so the
caller's first action reads materialized data; callers that are done
with it should ``unpersist()``.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erpl_web_spark.core.localframe import local_rows

# Stage-boundary lineage truncation interval — see materialize() in
# curate(). Measured per-stage analyzed-plan growth is up to ~7x (the
# bigram stage references its input four times), so a window of 3
# bounds the plan to ~7^3 copies of a ~1 KB stage plan (~350 KB string,
# measured 36 MB at a window of 5 — tools/plan probe, round 8).
_TRUNCATE_EVERY = 3

_log = logging.getLogger(__name__)


@dataclass
class CurationConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    # typographic normalization (operators.text.normalize_text) as the
    # FIRST stage: curly quotes/dashes/NBSP to ASCII, control strip,
    # whitespace collapse — so typographic variants of the same content
    # collide in every downstream dedup stage. Row-preserving rewrite;
    # only changed docs are rewritten (audit row: normalize_modified).
    normalize: bool = False
    # exact dedup: keep the minimum id per normalized-text digest
    exact_dedup: bool = True
    # near-dup clustering: Jaccard threshold over word-3-gram shingles,
    # blocked by these columns (empty = no blocking); keep one doc per
    # connected component
    near_dedup: bool = True
    near_threshold: float = 0.5
    block_cols: list[str] = field(default_factory=list)
    use_minhash: bool = True  # LSH candidates (scale path) vs exact pairs
    # which member of each near-dup cluster survives: "min_id" (arbitrary
    # but cheapest) or "best_quality" (highest quality_score, ties to the
    # smaller id — what production curation keeps)
    near_keep: str = "min_id"
    # perceptual media dedup (operators.multimodal.dhash_media /
    # dhash_dup_pairs): rows whose ``media_payload_col`` is non-null
    # are dHashed, near-duplicates within ``media_max_distance`` bits
    # cluster (connected components) and only the min-id representative
    # survives — mixed text+media corpora dedup in ONE facade call;
    # text-only rows (null payload) pass through untouched. Distances
    # 4..7 engage 1-bit multi-probe banding automatically.
    media_dedup: bool = False
    media_payload_col: str = "payload"
    media_max_distance: int = 3
    # hash kernel selection: None (default) auto-picks the real Pillow
    # grayscale kernel when Pillow is importable, else the deterministic
    # sha256 stub grid; True forces the stub, False forces the real
    # kernel (raises where Pillow is absent). UNDER THE STUB the hash is
    # pseudo-random per DISTINCT payload byte-string, so the stage
    # degrades to exact-byte payload dedup — re-encoded/resized
    # near-duplicates never cluster and ``media_max_distance`` is
    # effectively inert. On the real kernel, payloads Pillow cannot
    # decode are EXCLUDED from pairing (their fallback stub hashes can
    # never match the image's true near-duplicates) rather than
    # clustered on pseudo-random bits.
    media_decode_stub: bool | None = None
    # cross-document line dedup (operators.text.line_dedup_corpus):
    # REWRITES documents dropping any trimmed line that appears in more
    # than ``line_max_docs`` distinct documents (C4/RefinedWeb corpus-
    # boilerplate rule; ``line_keep_first`` keeps the one globally-first
    # occurrence instead). Row-preserving: docs that lose every line
    # survive with empty text — enable the quality gate to drop them.
    # Only docs that actually lost a line are rewritten (surviving
    # lines edge-trimmed, internal spacing preserved); untouched docs
    # keep their original text byte-for-byte, mirroring the scrub
    # stage's contract.
    line_dedup: bool = False
    line_max_docs: int = 1
    line_keep_first: bool = False
    # targeted span scrubbing (operators.dedup.winnow_targeted_scrub):
    # REWRITES cross-document duplicated spans out of the surviving
    # documents (winnow-gated, so only overlap-flagged docs pay the
    # gram-table cost) instead of dropping whole docs. Only documents
    # that actually lost a span are rewritten — and those end up in
    # normalized token space (lowercased, single-spaced, no line
    # structure, so line-based Gopher rules see one line for them);
    # every untouched document keeps its ORIGINAL text byte-for-byte.
    scrub_spans: bool = False
    scrub_min_shared: int = 2
    scrub_token_k: int = 10
    # document-frequency cap on the winnow GATE's fingerprints: a
    # fingerprint appearing in more than this many documents is treated
    # as corpus-wide boilerplate noise and never generates candidate
    # pairs. The knob that bounds the gate's quadratic in-bucket
    # expansion on LOW-ENTROPY corpora (SCALING.md round 8: with a
    # ~40-word vocabulary every 5-gram fingerprint lands in df
    # [2, 1000] and the gate saturates toward n^2/2 pairs — 122 s to
    # modify zero documents at sf0.1). Tradeoff, stated plainly: a
    # duplicated passage shared by MORE than scrub_max_df documents is
    # no longer detected by the gate (its fingerprints are capped
    # away) — but a passage that hot is corpus boilerplate, which the
    # line-dedup stage (line_max_docs) and boilerplate-ratio cap
    # target by design; the scrub is for the rare-pair tail. On
    # natural-vocabulary text fingerprint df tracks true duplication
    # and the default is effectively inert (measured: round 9).
    scrub_max_df: int | None = 1000
    # quality gate (>= 3 of 4 heuristics, operators.text.with_quality_score)
    quality_gate: bool = True
    # full Gopher rule battery (operators.text.with_gopher_rules,
    # Rae et al. 2021) — stricter than quality_gate; off by default
    # because the 50-word floor drops short-document corpora wholesale
    gopher_rules: bool = False
    # boilerplate cap: drop docs whose repeated-ngram contamination
    # exceeds this ratio (None = skip the stage)
    max_boilerplate_ratio: float | None = None
    # corpus-frequency floor: drop docs whose mean relative token
    # frequency (operators.text.with_unigram_freq_score) falls below
    # this — the rare-token/noise filter (None = skip the stage)
    min_unigram_freq: float | None = None
    # Zipf-head salting for the token/bigram count join-backs inside
    # the unigram-frequency and bigram-logprob stages, AND the line
    # dedup stage's digest membership join (same join-under-rollup
    # shape): fan each hot key over this many reducers
    # (relational.salted_join; identical rows). AQE's skew split is
    # measured NOT to engage in this shape (SCALING.md round 8) — set
    # this when one token/bigram/boilerplate-line dominates the corpus;
    # None keeps the plain plans.
    text_join_salt: int | None = None
    # perplexity-proxy floor: drop docs whose mean smoothed bigram
    # log2-probability (operators.text.with_bigram_logprob) falls
    # below this — the CCNet-style LM filter without a model; typical
    # values are negative, e.g. -14.0. Documents with no bigrams at
    # all (empty / single-token) are dropped too (None = skip stage)
    min_bigram_logprob: float | None = None
    # eval decontamination (only when curate() is given a benchmark
    # DataFrame): drop docs containing >= this fraction of any single
    # benchmark item's shingles (operators.curation.pairwise_contamination)
    contamination_threshold: float = 0.8
    bench_id_col: str = "bench_id"
    # leakage-safe split (None = no split column): survivors get a
    # train/val/test column keyed on their near-dup CLUSTER label (the
    # same components the near-dedup stage computed — reused, not
    # recomputed), so re-runs with dedup off, or future re-additions of
    # a cluster member, land in the same split as the representative
    split_weights: dict[str, float] | None = None
    split_seed: int = 42
    split_method: str = "xxhash64"
    split_col: str = "split"


def curate(
    df: DataFrame,
    cfg: CurationConfig | None = None,
    stage_trace: list[tuple[str, DataFrame, str]] | None = None,
    benchmark: DataFrame | None = None,
    stage_times: list[tuple[str, float]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the curation pipeline; returns (kept_docs, report).

    ``report`` has one row per stage: (stage, n_dropped) plus an
    ``input``/``output`` row — the accounting that makes a curation run
    reviewable. Stage order: typographic normalization (optional;
    rewrite, so variants collide downstream) -> exact dedup ->
    near-dup clusters ->
    perceptual media dedup (optional; dHash clusters over non-null
    payloads, text-only rows untouched) ->
    cross-doc line dedup (optional; rewrites, counts modified docs) ->
    targeted span scrub (optional; rewrites, counts modified docs) ->
    quality -> gopher rules (optional) -> boilerplate ->
    unigram-frequency floor -> bigram-logprob floor (optional) -> eval
    decontamination (when a ``benchmark`` DataFrame of
    (cfg.bench_id_col, text_col) rows is supplied: drops any doc
    containing >= cfg.contamination_threshold of a single benchmark
    item's shingles — the pairwise attribution variant, so scattered
    common-shingle matches across many items do not false-positive).

    Each stage is persisted before counting and the predecessor cache is
    unpersisted, so stage N+1 reads stage N's cached survivors instead of
    re-running the whole upstream chain. ``stage_trace``, when provided,
    collects ``(stage_name, stage_df, optimized_plan)`` per stage, with
    the plan string captured while the predecessor is still cached, so
    tests can pin the caching contract (InMemoryRelation in stage-2+
    plans).
    """
    from erpl_web_spark.operators.dedup import (
        exact_dedup_report,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from erpl_web_spark.operators.graph import connected_components
    from erpl_web_spark.operators.text import (
        with_boilerplate_ratio,
        with_quality_score,
        with_unigram_freq_score,
    )

    cfg = cfg or CurationConfig()
    cleanup: list = []        # every frame this call persisted
    barriers: list = []       # every localCheckpoint lineage barrier
    sink_lists: list = []     # operator-internal cache sinks

    def release_barrier(frame: DataFrame) -> None:
        # A localCheckpoint'd frame is NOT in the CacheManager, so
        # unpersist() is a no-op on it; its blocks are otherwise
        # reclaimed only when driver GC lets the ContextCleaner see the
        # dead RDD — which stage_trace references (or the exception
        # path) can postpone indefinitely on a long-lived driver
        # (ADVICE r8 #3). The analyzed plan of a checkpointed frame is
        # a LogicalRDD whose rdd() is the persisted checkpoint RDD:
        # unpersist it directly. After this the frame is UNREADABLE
        # (no lineage) — only call on frames nothing will act on
        # again. Same recompute-vs-fail tradeoff as the barrier itself,
        # and it applies MID-PIPELINE too: freeing a superseded
        # barrier's blocks means an executor loss while later stages
        # are still running fails the curate() call instead of
        # recomputing through the barrier — rerun it (stage caches made
        # it cheap); the alternative was barrier blocks accumulating
        # across every window until driver GC. Guarded: if the internal
        # accessor shifts across Spark versions we fall back to the GC
        # path rather than fail — and LOG it, so an upgrade silently
        # reverting to GC-based reclamation is visible in driver logs
        # instead of masquerading as a memory regression (ADVICE r9).
        try:
            frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception as exc:
            _log.warning(
                "release_barrier: analyzed().rdd() accessor unavailable "
                "(%s); falling back to GC-based block reclamation — "
                "barrier blocks will linger until the ContextCleaner "
                "sees the dead RDD",
                exc,
            )

    def new_sink() -> list:
        s: list = []
        sink_lists.append(s)
        return s
    id_col, text_col = cfg.id_col, cfg.text_col
    counts: list[tuple[str, int]] = []

    stage_no = 0

    t_last_stage = time.monotonic()

    def materialize(name: str, stage_df: DataFrame, prev: DataFrame | None) -> tuple[DataFrame, int]:
        nonlocal stage_no, t_last_stage
        if stage_trace is not None:
            # Capture the plan before this stage is itself registered in
            # the cache manager and before the predecessor is released:
            # this is the plan the count below executes.
            plan = stage_df._jdf.queryExecution().optimizedPlan().toString()
        # LINEAGE BARRIER every few stages: persist caches DATA but the
        # logical plan keeps full lineage, and the self-joining stages
        # (scrub / boilerplate / unigram / line dedup) each embed the
        # upstream plan 2-4x — an ALL-stages run grows the analyzed plan
        # tree multiplicatively until the driver itself OOMs building
        # it (found by the round-8 kitchen-sink run: 36 MB of plan
        # string by the bigram stage, dead at 12g heap on an 8 MB
        # corpus). localCheckpoint truncates the plan to the
        # materialized blocks, bounding every window to at most
        # _TRUNCATE_EVERY stages of branching. Barrier stages
        # checkpoint DIRECTLY (one materialization — a persist copy
        # would be discarded the moment the checkpoint is taken);
        # tradeoff, stated plainly: checkpoint blocks have no lineage,
        # so an executor loss after a barrier fails the curate() job
        # instead of recomputing — rerun the call (stage caches made
        # it cheap); the alternative was an unbounded driver plan.
        stage_no += 1
        if stage_no % _TRUNCATE_EVERY == 0:
            cached = stage_df.localCheckpoint(eager=True)
            barriers.append(cached)
        else:
            cached = stage_df.persist(StorageLevel.MEMORY_AND_DISK)
            cleanup.append(cached)
        m = cached.count()
        if prev is not None:
            prev.unpersist()
            # a superseded BARRIER's blocks must be freed explicitly
            # (unpersist above was a no-op on it); its successor is
            # already materialized, so nothing reads it again — but an
            # executor loss from here to the end of the run now fails
            # the job rather than recomputing (tradeoff stated in
            # release_barrier()).
            if any(prev is b for b in barriers):
                release_barrier(prev)
        if stage_trace is not None:
            stage_trace.append((name, cached, plan))
        if stage_times is not None:
            # wall time since the PREVIOUS stage finished: a stage's
            # pre-materialize work (e.g. the scrub's n_modified count,
            # which executes the winnow gate) belongs to this stage,
            # not the gap between stages — and each predecessor was
            # materialized in its own window, so no lazy upstream work
            # leaks in (tools/curate_bench.py)
            now = time.monotonic()
            stage_times.append((name, now - t_last_stage))
        t_last_stage = time.monotonic()
        return cached, m

    try:
        cur, n = materialize("input", df, None)
        counts.append(("input", n))

        if cfg.normalize:
            from erpl_web_spark.operators.text import normalize_text

            # map-only rewrite; the changed flag doubles as the audit
            # count, so no extra pass beyond the stage materialization
            # private audit/output column names: a user corpus may
            # legitimately carry its own 'changed' column
            normed = normalize_text(
                cur, text_col, out="__norm_text", changed_col="__norm_changed"
            )
            n_modified = normed.where(F.col("__norm_changed")).count()
            replaced = (
                normed.withColumn(text_col, F.col("__norm_text"))
                .drop("__norm_text", "__norm_changed")
            )
            cur, m = materialize("normalize", replaced, cur)
            counts.append(("normalize_modified", n_modified))
            n = m  # row-preserving

        if cfg.exact_dedup:
            keepers = exact_dedup_report(cur, id_col, text_col).select(
                F.col("keep_id").alias(id_col)
            )
            cur, m = materialize("exact_dedup", cur.join(keepers, id_col, "left_semi"), cur)
            counts.append(("exact_dedup_dropped", n - m))
            n = m

        comp = None  # near-dup cluster labels, shared by dedup AND split
        want_clusters = cfg.near_dedup or cfg.split_weights is not None
        if want_clusters:
            pair_sink = new_sink()
            if cfg.use_minhash:
                pairs = minhash_lsh_pairs(
                    cur, id_col, text_col, threshold=cfg.near_threshold,
                    cache_sink=pair_sink,
                )
            else:
                pairs = ngram_jaccard_pairs(
                    cur, id_col, text_col,
                    block_cols=cfg.block_cols,
                    threshold=cfg.near_threshold,
                )
            comp = connected_components(pairs, "id_a", "id_b")
            if cfg.split_weights is not None:
                # the label table is tiny next to the corpus; persist it so
                # the dedup stage and the final split assignment share one
                # component computation
                comp = comp.persist(StorageLevel.MEMORY_AND_DISK)
                cleanup.append(comp)
            # connected_components is eager (labels localCheckpoint per
            # round), so the pair operator's internal caches were fully
            # consumed by the time it returns — release them here rather
            # than letting them accumulate in the module registry across
            # curate() calls (the scrub stage's cache_sink contract)
            for cached in pair_sink:
                cached.unpersist()

        if cfg.near_dedup:
            if cfg.near_keep == "best_quality":
                from erpl_web_spark.operators.graph import component_best

                scored = with_quality_score(cur, text_col=text_col).select(
                    id_col, "quality_score"
                )
                keep = component_best(comp, scored, id_col, "quality_score").select(
                    F.col("keep_id").alias(id_col)
                )
                drop = comp.select(F.col("id").alias(id_col)).join(
                    keep, id_col, "left_anti"
                )
            else:
                drop = comp.where(F.col("id") != F.col("component")).select(
                    F.col("id").alias(id_col)
                )
            cur, m = materialize("near_dedup", cur.join(drop, id_col, "left_anti"), cur)
            counts.append(("near_dedup_dropped", n - m))
            n = m

        if cfg.media_dedup:
            from erpl_web_spark.operators.multimodal import (
                dhash_dup_pairs,
                dhash_media,
                pillow_available,
            )

            # perceptual near-dup over the rows that carry a media payload;
            # the pair set and cluster labels are (long, long) rows — the
            # payload bytes never shuffle past the one mapInPandas hash pass
            stub = cfg.media_decode_stub
            if stub is None:
                stub = not pillow_available()
            payload = cfg.media_payload_col
            media = cur.where(F.col(payload).isNotNull()).select(
                F.col(id_col).alias("media_id"), F.col(payload).alias("payload")
            )
            hashes = dhash_media(media, decode_stub=stub, with_decoded=not stub)
            if not stub:
                # real kernel: payloads Pillow could not decode fell back to
                # the pseudo-random stub grid — a hash that can never match
                # the image's true near-duplicates. Exclude them from
                # pairing (they pass through undeduped) instead of
                # clustering corrupt bytes on random collisions.
                hashes = hashes.where(F.col("decoded")).drop("decoded")
            mpairs = dhash_dup_pairs(hashes, max_distance=cfg.media_max_distance)
            mdrop = (
                connected_components(mpairs, "id_a", "id_b")
                .where(F.col("id") != F.col("component"))
                .select(F.col("id").alias(id_col))
            )
            cur, m = materialize(
                "media_dedup", cur.join(mdrop, id_col, "left_anti"), cur
            )
            counts.append(("media_dedup_dropped", n - m))
            n = m

        if cfg.line_dedup:
            from erpl_web_spark.operators.text import line_dedup_corpus

            # placed AFTER the document-level dedups (count frequencies
            # over survivors only) and BEFORE span scrub / quality (they
            # should see the boilerplate-free text). Persisted so the
            # modified-doc accounting and the text replacement share one
            # digest-count + reassembly computation.
            deduped = line_dedup_corpus(
                cur, id_col, text_col,
                max_docs=cfg.line_max_docs,
                keep_first=cfg.line_keep_first,
                salt=cfg.text_join_salt,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            cleanup.append(deduped)
            modified = deduped.where(
                F.col("n_lines_kept") < F.col("n_lines")
            ).select(id_col, F.col("clean_text").alias("__line_text"))
            n_modified = modified.count()
            replaced = cur.join(modified, id_col, "left").withColumn(
                text_col, F.coalesce(F.col("__line_text"), F.col(text_col))
            ).drop("__line_text")
            cur, m = materialize("line_dedup", replaced, cur)
            deduped.unpersist()
            counts.append(("line_dedup_modified", n_modified))
            n = m  # row-preserving: every doc keeps exactly one row

        if cfg.scrub_spans:
            from erpl_web_spark.operators.dedup import winnow_targeted_scrub

            # placed AFTER dedup (scrub survivors only) and BEFORE the
            # quality stages (they should score the scrubbed text). The
            # scrub result is persisted so the modified-doc accounting and
            # the text replacement share one winnow+scrub computation; the
            # operator's internal fingerprint/gram caches are collected via
            # cache_sink and released once the stage is materialized —
            # honoring the facade's per-stage cache-release contract.
            sink = new_sink()
            scrubbed = winnow_targeted_scrub(
                cur, id_col, text_col,
                min_shared=cfg.scrub_min_shared,
                max_df=cfg.scrub_max_df,
                token_k=cfg.scrub_token_k,
                cache_sink=sink,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            cleanup.append(scrubbed)
            # only docs that actually lost a span are rewritten (into
            # normalized token space); everything else keeps its original
            # text — a corpus-wide rewrite would strip line structure and
            # casing from untouched documents for no dedup benefit
            modified = scrubbed.where(F.col("n_removed") > 0).select(
                id_col, F.col("clean_text").alias("__scrub_text")
            )
            n_modified = modified.count()
            replaced = cur.join(modified, id_col, "left").withColumn(
                text_col, F.coalesce(F.col("__scrub_text"), F.col(text_col))
            ).drop("__scrub_text")
            cur, m = materialize("scrub_spans", replaced, cur)
            scrubbed.unpersist()
            for cached in sink:
                cached.unpersist()
            counts.append(("scrub_spans_modified", n_modified))
            n = m  # row-preserving stage: every doc keeps exactly one row

        if cfg.quality_gate:
            gated = with_quality_score(cur, text_col=text_col).where(
                F.col("quality_keep")
            ).drop("quality_score", "quality_keep")
            cur, m = materialize("quality", gated, cur)
            counts.append(("quality_dropped", n - m))
            n = m

        if cfg.gopher_rules:
            from erpl_web_spark.operators.text import (
                GOPHER_RULE_COLS,
                with_gopher_rules,
            )

            gated = with_gopher_rules(cur, text_col=text_col).where(
                F.col("gopher_keep")
            ).drop(*GOPHER_RULE_COLS)
            cur, m = materialize("gopher", gated, cur)
            counts.append(("gopher_dropped", n - m))
            n = m

        if cfg.max_boilerplate_ratio is not None:
            ratios = with_boilerplate_ratio(cur, id_col, text_col).select(
                id_col, "boiler_ratio"
            )
            capped = (
                cur.join(ratios, id_col)
                .where(F.col("boiler_ratio") <= cfg.max_boilerplate_ratio)
                .drop("boiler_ratio")
            )
            cur, m = materialize("boilerplate", capped, cur)
            counts.append(("boilerplate_dropped", n - m))
            n = m

        if cfg.min_unigram_freq is not None:
            scores = with_unigram_freq_score(
                cur, id_col, text_col, salt=cfg.text_join_salt
            ).select(id_col, "avg_unigram_freq")
            floored = (
                cur.join(scores, id_col)
                .where(F.col("avg_unigram_freq") >= cfg.min_unigram_freq)
                .drop("avg_unigram_freq")
            )
            cur, m = materialize("unigram_freq", floored, cur)
            counts.append(("unigram_freq_dropped", n - m))
            n = m

        if cfg.min_bigram_logprob is not None:
            from erpl_web_spark.operators.text import with_bigram_logprob

            lp_sink = new_sink()
            lp = with_bigram_logprob(
                cur, id_col, text_col, cache_sink=lp_sink,
                salt=cfg.text_join_salt,
            ).select(id_col, "n_bigrams", "avg_log2p")
            # 0-bigram documents (empty / single-token) carry the sentinel
            # avg_log2p = 0.0 — the best possible score, since every real
            # bigram scores strictly below 0. They are exactly the
            # degenerate noise a perplexity floor targets, so the floor
            # drops them rather than letting the sentinel outrank prose.
            floored = (
                cur.join(lp, id_col)
                .where(
                    (F.col("n_bigrams") >= 1)
                    & (F.col("avg_log2p") >= cfg.min_bigram_logprob)
                )
                .drop("n_bigrams", "avg_log2p")
            )
            cur, m = materialize("bigram_logprob", floored, cur)
            for cached in lp_sink:
                cached.unpersist()
            counts.append(("bigram_logprob_dropped", n - m))
            n = m

        if benchmark is not None:
            from erpl_web_spark.operators.curation import pairwise_contamination

            leaks = (
                pairwise_contamination(
                    cur,
                    benchmark,
                    id_col,
                    text_col,
                    bench_id_col=cfg.bench_id_col,
                    threshold=cfg.contamination_threshold,
                )
                .select(id_col)
                .distinct()
            )
            cur, m = materialize(
                "decontaminate", cur.join(leaks, id_col, "left_anti"), cur
            )
            counts.append(("decontaminate_dropped", n - m))
            n = m

        if cfg.split_weights is not None:
            # assign splits on the cluster label (own id when unclustered),
            # reusing the components already computed above instead of
            # re-running pair generation — same split_by_cluster rule as
            # operators.curation.leak_safe_split
            from erpl_web_spark.operators.curation import split_by_cluster

            split_df = split_by_cluster(
                cur,
                id_col,
                comp,
                cfg.split_weights,
                seed=cfg.split_seed,
                out=cfg.split_col,
                method=cfg.split_method,
            ).drop("group_key")
            cur, _ = materialize("split", split_df, cur)
            comp.unpersist()

        counts.append(("output", n))
        report = local_rows(df.sparkSession, counts, "stage string, n long")
        if not (cur.storageLevel.useMemory or cur.storageLevel.useDisk):
            # the last stage landed on a lineage barrier (checkpointed,
            # not persisted) — re-persist so the caller contract holds:
            # storageLevel observable, unpersist() releases it. EAGER
            # (one extra scan of the already-checkpointed blocks) so the
            # checkpoint RDD can be freed NOW instead of lingering until
            # driver GC: after the count the persist copy holds every
            # partition, and MEMORY_AND_DISK spills rather than evicts.
            # Stated tradeoff (same as the barrier itself): losing a
            # cached partition after this release fails the job instead
            # of recomputing — rerun curate().
            barrier = cur
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            cur.count()
            release_barrier(barrier)
            cleanup.append(cur)
        return cur, report
    except BaseException:
        # a failed curate() must not leak cached frames on the
        # driver: release every stage cache, cluster-label persist
        # and operator-internal sink this call created (unpersist is
        # a no-op for frames already released per stage above), then
        # re-raise. On success the final corpus STAYS persisted for
        # the caller (see module docstring).
        for cached in cleanup:
            cached.unpersist()
        for b in barriers:
            release_barrier(b)
        for s in sink_lists:
            for cached in s:
                cached.unpersist()
        raise
