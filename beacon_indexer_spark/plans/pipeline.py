"""End-to-end batch pipeline: raw lake → transform → structured lake.

The Spark shape of the reference's ``transform run`` lifecycle (SURVEY §3.2):
discovery (anti-join) → range read (latest-wins) → parse projections →
parallel table writes → progress record. Steps that were processes/asyncio
in the reference collapse into one Spark job per chunk range; the repair
entry point (reference ``maintain fix``, ``src/services/maintenance.py:77-138``)
becomes re-transform + dynamic partition overwrite.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beacon_indexer_spark.config import ForkSchedule
from beacon_indexer_spark.control.ledger import (
    COMPLETED,
    FAILED,
    ProgressManifest,
    untransformed_chunks,
)
from beacon_indexer_spark.plans.transform import TRANSFORMS, transform_blocks
from beacon_indexer_spark.schemas.structured import RAW_TO_STRUCTURED
from beacon_indexer_spark.sources.storage import ParquetLake, ParquetSink


def _coalesce_ranges(
    ranges: list[tuple[int, int]]
) -> list[list[tuple[int, int]]]:
    """Group sorted chunk ranges into runs of contiguous ranges
    (end + 1 == next start). Each run becomes one merged transform job."""
    runs: list[list[tuple[int, int]]] = []
    for r in sorted(ranges):
        if runs and runs[-1][-1][1] + 1 == r[0]:
            runs[-1].append(r)
        else:
            runs.append([r])
    return runs


def transform_tables(
    raw: DataFrame,
    raw_table: str,
    schedule: ForkSchedule,
    tables: list[str] | None = None,
    insert_version: int | None = None,
) -> dict[str, DataFrame]:
    """Uniform transform entry: any raw table → {structured_table: df}."""
    if raw_table == "raw_blocks":
        return transform_blocks(raw, schedule, tables=tables, insert_version=insert_version)
    fn = TRANSFORMS[raw_table]
    name = RAW_TO_STRUCTURED[raw_table][0]
    if tables is not None and name not in tables:
        return {}
    return {name: fn(raw, schedule, insert_version=insert_version)}


class BeaconPipeline:
    def __init__(
        self,
        lake: ParquetLake,
        progress: ProgressManifest | None = None,
        tables: dict[str, list[str]] | None = None,
        sink=None,
    ):
        self.lake = lake
        self.schedule = lake.schedule
        self.progress = progress
        self.allow = tables or {}  # raw_table → allowed structured tables (P8)
        # storage-backend selection (reference storage_factory.py:4-13):
        # raw always lives in the lake; structured output goes to the sink
        self.sink = sink if sink is not None else ParquetSink(lake)

    def transform_range(
        self,
        raw_table: str,
        start_slot: int,
        end_slot: int,
        mode: str = "append",
        record_ranges: list[tuple[int, int]] | None = None,
    ) -> dict[str, int]:
        """Transform one chunk range and write every structured table it
        feeds. Returns {table: rows_written}. Any failure marks the whole
        range failed (reference semantics, transformer.py:299-302).

        ``record_ranges`` records progress per constituent chunk while the
        transform itself runs as ONE Spark job over the merged range — the
        batched-discovery path (at 100× chunk counts, per-chunk job launch
        overhead dominates; the merged job keeps discovery granularity
        intact because completion rows still match chunk boundaries).
        """
        from beacon_indexer_spark import observability as O

        counts: dict[str, int] = {}
        outs = None
        ranges = record_ranges or [(start_slot, end_slot)]
        t0 = time.monotonic()
        try:
            raw = self.lake.read_latest(raw_table, (start_slot, end_slot)).drop("date")
            outs = transform_tables(
                raw,
                raw_table,
                self.schedule,
                tables=self.allow.get(raw_table),
                insert_version=time.time_ns(),
            )
            for name, df in outs.items():
                # cache around write+count: otherwise the progress count
                # re-executes the whole parse for every table
                df = df.cache()
                try:
                    self.sink.write(name, df, mode=mode)
                    counts[name] = df.count()
                    O.METRICS.inc("beacon_indexer_rows_written_total",
                                  {"table": name}, counts[name])
                finally:
                    df.unpersist()
            if self.progress:
                total = sum(counts.values())
                # merged runs attribute the row total to the first chunk so
                # stats() sums stay exact without a per-chunk recount
                self.progress.record_many(
                    [
                        (raw_table, s, e, COMPLETED, total if i == 0 else 0, 0, None)
                        for i, (s, e) in enumerate(ranges)
                    ]
                )
            O.METRICS.inc("beacon_indexer_chunks_total",
                          {"loader": raw_table, "status": COMPLETED}, len(ranges))
            O.METRICS.observe("beacon_indexer_chunk_duration_seconds",
                              time.monotonic() - t0,
                              {"loader": raw_table, "operation": "transform"},
                              buckets=O.CHUNK_DURATION_BUCKETS)
            return counts
        except Exception as e:  # noqa: BLE001 — record then re-raise
            if self.progress:
                self.progress.record_many(
                    [(raw_table, s, e, FAILED, 0, 0, str(e)[:500]) for s, e in ranges]
                )
            O.METRICS.inc("beacon_indexer_transform_failures_total",
                          {"loader": raw_table})
            raise
        finally:
            # release the shared cached parse frame (transform_blocks)
            if outs is not None and hasattr(outs, "unpersist"):
                outs.unpersist()

    def transform_pending(self, ledger_current: DataFrame, raw_table: str, limit: int = 50):
        """Discovery + execution: the reference's transform-batch loop body.

        Contiguous pending chunks coalesce into one merged `transform_range`
        job per run (progress still recorded per chunk) — N adjacent chunks
        cost one Spark job + one write per table instead of N.
        """
        if self.progress is None:
            raise ValueError("transform_pending requires a ProgressManifest")
        todo = untransformed_chunks(
            ledger_current, self.progress.current(), raw_table, limit=limit
        ).collect()
        results = []
        for run_ranges in _coalesce_ranges([(r["start_slot"], r["end_slot"]) for r in todo]):
            s, e = run_ranges[0][0], run_ranges[-1][1]
            counts = self.transform_range(
                raw_table, s, e, record_ranges=run_ranges
            )
            results.append((s, e, counts))
        return results

    def repair_range(self, raw_table: str, start_slot: int, end_slot: int) -> dict[str, int]:
        """Re-transform a range and overwrite only the affected daily
        partitions — the DELETE-free repair (reference C9→ SURVEY §4)."""
        return self.transform_range(raw_table, start_slot, end_slot, mode="overwrite")




def contamination_columns(
    doc_tokens: str, drop_threshold: float = 0.5, trim_threshold: float = 0.05
):
    """``(contam_tokens, contam_rate, verdict)`` columns over a frame that
    carries the nullable per-doc ``contam_tokens`` coverage and the doc's
    token count ``doc_tokens`` — the one definition of the
    decontamination verdict: docs without spans count 0 tokens, 'drop'
    above ``drop_threshold``, 'trim' at ``trim_threshold`` and up, 'keep'
    otherwise. ``contam_rate`` is unrounded (callers round for output)."""
    tokens = F.coalesce("contam_tokens", F.lit(0))
    rate = tokens / F.greatest(doc_tokens, F.lit(1))
    verdict = (
        F.when(rate > drop_threshold, "drop")
        .when(rate >= trim_threshold, "trim")
        .otherwise("keep")
    )
    return tokens.cast("long"), rate, verdict


def covered_tokens(spans: DataFrame) -> DataFrame:
    """(doc_id, contam_tokens): per-doc sum of the disjoint span lengths
    of a contamination-span frame."""
    return spans.groupBy("doc_id").agg(
        F.sum("n_tokens").cast("long").alias("contam_tokens")
    )


def contamination_verdict(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_threshold: float = 0.5,
    trim_threshold: float = 0.05,
) -> DataFrame:
    """(doc_id, doc_tokens, contam_tokens, contam_rate, verdict): per-doc
    contaminated-token coverage of ``spans`` (a
    `cross_corpus_contamination_spans` frame over ``docs``) with the
    keep/trim/drop policy of `contamination_columns`."""
    from beacon_indexer_spark.operators.text import token_count

    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        token_count(text_col).cast("long").alias("doc_tokens"),
    )
    tokens, rate, verdict = contamination_columns(
        "doc_tokens", drop_threshold, trim_threshold
    )
    return base.join(covered_tokens(spans), "doc_id", "left").select(
        "doc_id",
        "doc_tokens",
        tokens.alias("contam_tokens"),
        F.round(rate, 6).alias("contam_rate"),
        verdict.alias("verdict"),
    )


class CurationRun:
    """The staged curation pipeline: compute the LSH→connected-components
    duplicate-cluster frame ONCE, then derive the keep-list, the curation
    manifest, the executive summary and the spine reports from that one
    staged frame.

    This class is the single implementation of the curation family: the
    oracle-gated queries in plans/queries.py (`doc_keep_list`,
    `doc_keep_best`, `doc_curation_manifest`, `corpus_dedup_summary`,
    `dedup_cluster_size_dist`, `source_token_budget`,
    `corpus_dup_rate_by_length`, `split_leakage_guard`,
    `doc_curation_decision`) each build a run over the documents table
    and return one method's frame, so the gate pins the production code
    path directly. A run pays the LSH→CC work once: the CC output is
    already `localCheckpoint`-backed, it carries its observed row count
    so `broadcast_if_small` attaches the hint without a probe job, and
    every derived frame reads the staged blocks — one signature/banding
    pass per run, machine-asserted by
    tests/test_custom_joins_curation.py::test_curation_run_stages_clusters_once.

    With ``test_docs`` set, the run also stages benchmark DECONTAMINATION
    on the same discipline: the contamination-span frame is computed once
    (localCheckpoint-backed) and `contamination_spans` /
    `contamination_verdict` (column-identical to
    `corpus_decontamination_spans` / `doc_contamination_verdict`) and
    `decision` — the manifest extended with the keep/trim/drop verdict
    and the final ``admit`` flag — all read the staged blocks, so one
    staged run emits the full curation decision.
    """

    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        bands: int = 4,
        shingle_n: int = 3,
        quality_threshold: float = 0.5,
        split_fracs: list[tuple[str, float]] | None = None,
        max_bucket: int | None = 65536,
        keep_policy: str = "min_id",
        test_docs: DataFrame | None = None,
        decon_k: int = 8,
        drop_threshold: float = 0.5,
        trim_threshold: float = 0.05,
    ) -> None:
        from beacon_indexer_spark.operators.dedup import (
            broadcast_if_small,
            connected_components,
            minhash_lsh_candidates,
        )
        from beacon_indexer_spark.session import parallel_build

        if keep_policy not in ("min_id", "best_quality"):
            raise ValueError(
                f"keep_policy must be 'min_id' or 'best_quality', got {keep_policy!r}"
            )
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col
        self.quality_threshold = quality_threshold
        self.keep_policy = keep_policy
        self.split_fracs = split_fracs or [
            ("train", 0.8), ("val", 0.1), ("test", 0.1)
        ]
        # decontamination stage (optional): the held-out eval corpus whose
        # k-gram spans must be flagged/stripped from the training docs
        self.test_docs = test_docs
        self.decon_k = decon_k
        self.drop_threshold = drop_threshold
        self.trim_threshold = trim_threshold
        self._contam: DataFrame | None = None

        def _stage_clusters() -> DataFrame:
            pairs = minhash_lsh_candidates(
                docs, id_col, text_col, k=k, bands=bands,
                shingle_n=shingle_n, max_bucket=max_bucket,
            )
            # staged once: checkpoint-backed, conditionally broadcast-
            # hinted (raw-crawl dup rates fall back to a shuffle join);
            # node_col at the source keeps CC's observed row count on the
            # frame so broadcast_if_small skips its probe job (r12)
            return broadcast_if_small(
                connected_components(pairs, node_col=id_col),
                expect_rows_known=True,
            )

        if test_docs is None:
            self.clusters = _stage_clusters()
        else:
            # r12: the two stagings are INDEPENDENT — the LSH→CC cluster
            # chain (bucket probe + per-round CC jobs) and the decon gram
            # join don't read each other — so materialize them from two
            # driver threads and let the scheduler interleave their jobs.
            # Each staged frame is still computed exactly once; only the
            # serial wall-clock of "clusters, THEN contamination" goes.
            self.clusters, _ = parallel_build(
                docs.sparkSession, _stage_clusters, self._contamination
            )

    def _resolved(self, *cols) -> DataFrame:
        """The docs spine (long id + ``cols``) left-joined to the staged
        cluster frame, with ``cluster_id`` resolved to the doc's own id
        for docs without duplicates — the base of every per-doc output."""
        spine = self.docs.select(
            F.col(self.id_col).cast("long").alias(self.id_col), *cols
        )
        cid = F.coalesce(F.col("cluster_id"), F.col(self.id_col))
        return spine.join(self.clusters, self.id_col, "left").withColumn(
            "cluster_id", cid.cast("long")
        )

    def _q6(self):
        from beacon_indexer_spark.operators.text import quality_score

        return F.round(quality_score(self.text_col), 6).alias("q6")

    def _policy_cols(self) -> list:
        """Spine columns the keep policy reads (q6 for best_quality)."""
        return [self._q6()] if self.keep_policy == "best_quality" else []

    def _keep(self):
        """The keep verdict under the configured policy, over a
        `_resolved` frame (carrying ``q6`` under ``best_quality``).
        ``min_id`` keeps the cluster's minimum id (the CC label, zero
        extra work); ``best_quality`` keeps the highest-q6 copy
        (`doc_keep_best`'s Dolma/FineWeb policy) via a per-cluster
        PARTITIONED window — never global."""
        from pyspark.sql import Window

        if self.keep_policy == "min_id":
            return (F.col("cluster_id") == F.col(self.id_col)).cast("int")
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("q6"), F.asc(self.id_col)
        )
        return (F.row_number().over(w) == 1).cast("int")

    def keep_list(self) -> DataFrame:
        """(doc_id, cluster_id, [q6,] keep) — `doc_keep_list` (min_id
        policy) / `doc_keep_best` (best_quality policy)."""
        policy = self._policy_cols()
        return self._resolved(*policy).select(
            self.id_col,
            "cluster_id",
            *(["q6"] if policy else []),
            self._keep().alias("keep"),
        )

    _MANIFEST_COLS = ("cluster_id", "keep", "q6", "q_pass", "split", "include")

    def _manifest(self, *cols) -> DataFrame:
        """`_resolved` spine with q6, split and ``cols`` plus the keep,
        q_pass and include verdicts — the base of `manifest` and
        `decision`."""
        from beacon_indexer_spark.operators.sampling import split_assign

        joined = self._resolved(
            self._q6(),
            split_assign(F.col(self.id_col), self.split_fracs).alias("split"),
            *cols,
        )
        keep = self._keep()
        q_pass = (F.col("q6") >= self.quality_threshold).cast("int")
        return joined.select(
            "*",
            keep.alias("keep"),
            q_pass.alias("q_pass"),
            (keep.cast("boolean") & q_pass.cast("boolean"))
            .cast("int")
            .alias("include"),
        )

    def manifest(self) -> DataFrame:
        """(doc_id, cluster_id, keep, q6, q_pass, split, include) —
        `doc_curation_manifest`; under ``best_quality`` the keep flag
        follows `doc_keep_best`."""
        return self._manifest().select(self.id_col, *self._MANIFEST_COLS)

    def summary(self) -> DataFrame:
        """One-row rollup — `corpus_dedup_summary`."""
        tot = self.docs.agg(F.count(F.lit(1)).alias("n_docs"))
        stats = (
            self.clusters.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("__sz"))
            .agg(
                F.coalesce(F.sum("__sz"), F.lit(0)).alias("n_dup_docs"),
                F.count(F.lit(1)).alias("n_clusters"),
                F.coalesce(F.max("__sz"), F.lit(0)).alias("max_cluster_size"),
            )
        )
        j = tot.crossJoin(F.broadcast(stats))
        removed = F.col("n_dup_docs") - F.col("n_clusters")
        return j.select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("max_cluster_size").cast("long").alias("max_cluster_size"),
            (F.col("n_docs") - removed).cast("long").alias("n_kept"),
            F.round(removed.cast("double") / F.col("n_docs"), 6).alias("dup_rate"),
        )

    def cluster_size_dist(self) -> DataFrame:
        """(cluster_size, n_clusters, n_docs) — `dedup_cluster_size_dist`
        (singletons included via the resolved spine)."""
        sizes = self._resolved().groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("__sz")
        )
        return (
            sizes.groupBy("__sz")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_clusters"),
                F.sum("__sz").cast("long").alias("n_docs"),
            )
            .select(
                F.col("__sz").cast("long").alias("cluster_size"),
                "n_clusters",
                "n_docs",
            )
        )

    def _keep_frame(self, *cols) -> DataFrame:
        """Resolved spine + ``__nt`` token count + ``__keep`` verdict (and
        ``cols``) — the shared base of the budget/length rollups."""
        from beacon_indexer_spark.operators.text import token_count

        joined = self._resolved(
            *self._policy_cols(),
            token_count(self.text_col).cast("long").alias("__nt"),
            *cols,
        )
        return joined.withColumn("__keep", self._keep())

    def token_budget(self, source_col: str = "source") -> DataFrame:
        """(source, n_docs, n_kept, tokens_total, tokens_kept, kept_frac)
        — `source_token_budget` under the min_id policy; under
        best_quality the kept copy is the highest-q6 one."""
        kf = self._keep_frame(F.col(source_col).alias("source"))
        return (
            kf.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("__keep").cast("long").alias("n_kept"),
                F.sum("__nt").cast("long").alias("tokens_total"),
                F.sum(F.when(F.col("__keep") == 1, F.col("__nt")).otherwise(0))
                .cast("long")
                .alias("tokens_kept"),
            )
            .withColumn(
                "kept_frac",
                F.round(
                    F.col("tokens_kept").cast("double")
                    / F.col("tokens_total").cast("double"),
                    6,
                ),
            )
        )

    def dup_rate_by_length(self) -> DataFrame:
        """(len_band, n_docs, n_dups, dup_rate) — `corpus_dup_rate_by_length`
        (fixed token-length CASE bands)."""
        kf = self._keep_frame()
        band = (
            F.when(F.col("__nt") <= 32, "a_le32")
            .when(F.col("__nt") <= 64, "b_le64")
            .when(F.col("__nt") <= 128, "c_le128")
            .when(F.col("__nt") <= 256, "d_le256")
            .otherwise("e_gt256")
        )
        return (
            kf.select(band.alias("len_band"), F.col("__keep"))
            .groupBy("len_band")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.lit(1) - F.col("__keep")).cast("long").alias("n_dups"),
                F.round(
                    F.sum(F.lit(1) - F.col("__keep")).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("dup_rate"),
            )
        )

    def leakage_split(
        self, train_rate: float = 0.9, salt: int = 7
    ) -> DataFrame:
        """(doc_id, cluster_id, split, naive_split, moved) —
        `split_leakage_guard`: split verdicts hash the staged CLUSTER id
        so near-copies never straddle the eval boundary."""
        from beacon_indexer_spark.operators.sampling import leakage_safe_split

        return leakage_safe_split(
            self.docs, self.clusters, self.id_col,
            train_rate=train_rate, salt=salt,
        )

    # ------------------------------------------------ decontamination stage

    def _contamination(self) -> DataFrame:
        """Staged contamination-span frame: `cross_corpus_contamination_
        spans` of the training docs against ``test_docs``, computed ONCE
        per run (localCheckpoint-backed). Every decon-derived frame reads
        these blocks — one gram join per run, same staging discipline as
        the LSH→CC cluster frame."""
        if self.test_docs is None:
            raise ValueError(
                "CurationRun built without test_docs; pass the held-out "
                "eval corpus to enable the decontamination stage"
            )
        if self._contam is None:
            from beacon_indexer_spark.operators.dedup import (
                cross_corpus_contamination_spans,
            )

            self._contam = cross_corpus_contamination_spans(
                self.docs, self.test_docs, self.id_col, self.text_col,
                k=self.decon_k,
            ).localCheckpoint()
        return self._contam

    def contamination_spans(self) -> DataFrame:
        """(doc_id, span_start, span_end, n_tokens) —
        `corpus_decontamination_spans`, reading the staged span frame."""
        return self._contamination().select(
            "doc_id", "span_start", "span_end", "n_tokens"
        )

    def contamination_verdict(self) -> DataFrame:
        """(doc_id, doc_tokens, contam_tokens, contam_rate, verdict) —
        `doc_contamination_verdict` over the staged span frame."""
        return contamination_verdict(
            self.docs, self._contamination(), self.id_col, self.text_col,
            self.drop_threshold, self.trim_threshold,
        )

    def decision(self) -> DataFrame:
        """The FULL curation decision from one staged run: `manifest()`'s
        dedup/quality/split columns extended with the decon verdict —
        (doc_id, cluster_id, keep, q6, q_pass, split, include,
        contam_tokens, contam_rate, contam_verdict, admit), where
        ``admit`` = include AND contam_verdict != 'drop' (trimmed docs
        stay admitted; their spans are stripped by `strip_spans` on the
        way out). Both staged frames (clusters, contamination spans) are
        read from checkpoint blocks — no LSH/CC or gram join re-runs.

        One corpus scan computes q6, split AND the token count the
        contamination rate divides by; the tiny per-doc coverage
        aggregate (contaminated docs only, read from the staged span
        checkpoint) then left-joins in — never a second corpus-sized
        frame and a full-width join of the two."""
        from beacon_indexer_spark.operators.text import token_count

        base = self._manifest(
            token_count(self.text_col).cast("long").alias("__doc_tokens")
        )
        covered = covered_tokens(self._contamination()).withColumnRenamed(
            "doc_id", self.id_col
        )
        tokens, rate, verdict = contamination_columns(
            "__doc_tokens", self.drop_threshold, self.trim_threshold
        )
        return base.join(covered, self.id_col, "left").select(
            self.id_col,
            *self._MANIFEST_COLS,
            tokens.alias("contam_tokens"),
            F.round(rate, 6).alias("contam_rate"),
            verdict.alias("contam_verdict"),
            (F.col("include").cast("boolean") & (verdict != "drop"))
            .cast("int")
            .alias("admit"),
        )
