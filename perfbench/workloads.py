"""The benchmark's workloads: which registered queries each one runs, and why.

Each workload is a closed loop over a fixed set of registry queries. The
seed only permutes the order of each measured pass; the inputs are the
fixture tables under ``perfbench/data``. ``stresses`` names the layers the
workload is built to load and ``bypasses`` the layers it must leave idle,
so a change to one layer can state its prediction against both: movement
on the stressing workload, no movement on the bypassing one.

The query sets are smaller than the families they stand for: one run
(set-up, a value-checked warm-up pass, a cold pass and the warm passes)
takes 30-45 s on 4 cores, so that repeated sets of ten runs per workload
stay affordable. Every dropped family member is named in ``dropped`` with
the reason.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    why: str
    stresses: tuple[str, ...]
    bypasses: tuple[str, ...]
    # Warm passes always run; more follow until --seconds has elapsed.
    min_warm_passes: int = 2
    dropped: tuple[tuple[str, str], ...] = ()


WORKLOADS: dict[str, Workload] = {
    "batch_jvm": Workload(
        queries=(
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_local_supplier_volume",
            "q6_forecast_revenue",
            "q10_returned_revenue",
            "q21_last_shipper_wait",
            "j1_enrichment_broadcast",
            "j2_interval_join",
            "j3_bucketed_coloc_join",
            "a1_word_count",
            "a11_hourly_counts",
            "c1_compaction_latest_per_key",
            "w2_sessionization",
            "ev_dau_wau_mau",
            "ev_retention_cohorts",
            "gr_kcore_ladder",
            "gr_bfs_layers",
        ),
        why=(
            "JVM-only batch: small SQL rows are bound by driver planning "
            "(query_p50_s), iterative graph rows by job scheduling and "
            "lineage (warm_pass_s); no Python workers, no triggers"
        ),
        stresses=(
            "driver (plan building inside fn())",
            "sched (jobs/stages/tasks per query)",
            "exec (JVM task run and CPU time)",
            "shuffle",
        ),
        bypasses=("py (Python workers)", "stream (micro-batch triggers)"),
        dropped=(
            ("gr_pagerank_3iter", "run budget; kcore and bfs keep the iterative-graph rows"),
            ("gr_ktruss_peel", "run budget; kcore and bfs keep the iterative-graph rows"),
            ("gr_boruvka_msf_rounds", "run budget; kcore and bfs keep the iterative-graph rows"),
        ),
    ),
    "curation_py": Workload(
        queries=(
            "dd_prefix_filter_join",
            "dd_containment_pairs",
            "dd_decontaminate_hashed",
            "dd_curation_funnel",
            "w3_window_apply",
        ),
        why=(
            "Python boundary: MapInPandas and pandas-UDF crossings dominate, "
            "and per-path dedup caches make the cold pass dearer than the "
            "warm ones (cold_pass_s vs warm_pass_s)"
        ),
        stresses=(
            "py (worker start/init/run, Arrow bytes sent and returned)",
            "cache (dedup cache slots, persistent RDDs)",
            "exec (run time minus CPU time is Python wait)",
            "shuffle",
        ),
        bypasses=("stream (micro-batch triggers)",),
        # 5 queries x 3 passes = 15 warm samples. An odd query count puts
        # the median inside one query's samples instead of between two
        # queries' clusters, where one slow sample moves it by 2x.
        min_warm_passes=3,
        dropped=(
            ("dd_minhash_lsh_pairs", "run budget and an odd query count; no Python crossing at sf0.01"),
            ("dd_semantic_neardup_kmeans", "run budget; no Python crossing at sf0.01"),
            ("dd_components_incremental", "run budget; no Python crossing at sf0.01"),
            ("tx_vocab_growth", "run budget; no Python crossing at sf0.01"),
            ("lm_bpe_encode_tokens", "run budget; no Python crossing at sf0.01"),
            ("sim_pq_adc_topk", "run budget; no Python crossing at sf0.01"),
            ("sim_mmr_rerank", "run budget; no Python crossing at sf0.01"),
        ),
    ),
    "stream_replay": Workload(
        queries=(
            "st_scd2_stream",
            "st_pyds_stream_consume",
            "st_cms_stream",
        ),
        why=(
            "Micro-batch replays (SCD2 merge, count-min sketch, a Python "
            "data source feeding RocksDB state): per-trigger planning, WAL "
            "and state-store commits beside the reads"
        ),
        stresses=(
            "stream (triggers, addBatch, planning, WAL/offset commit, "
            "state-store commit)",
            "residue (scratch dirs, temp views, active streams)",
            "sched (one job per trigger)",
        ),
        bypasses=(),
        # 3 queries x 4 passes = 12 warm samples, the fewest that leave a
        # percentile with ten samples above it.
        min_warm_passes=4,
        dropped=(
            ("w6_session_timeout", "run budget; 14-20 s per execution on 4 cores"),
            ("st_dedup_within_watermark", "run budget; 4-13 s per execution on 4 cores"),
            # Each RocksDB state-store instance leaves a 4 MiB preallocated
            # MANIFEST in the Spark local dir: 16 per execution is ~400 MB of
            # scratch per run, and unlinking 80 of them on a disk mounted with
            # online discard takes 20-40 s, slowing whatever runs next.
            ("st_j2_outer_stream_stream", "16 RocksDB instances per execution"),
            ("st_stream_hourly_counts", "16 RocksDB instances per execution"),
            ("st_decontaminate_stream", "16 RocksDB instances per execution"),
        ),
    ),
}
