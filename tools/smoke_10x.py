#!/usr/bin/env python
"""10x scale smoke probe (VERDICT r2 item 10) — the cheapest way to
catch quadratic surprises before they burn a cluster.

Builds a one-off ~10x documents fixture (NOT committed, written under
/tmp): each sf0.1 document spawns 10 deterministic variants — variant 0
is the original text, variant j>0 suffixes every word of length ≥ 4
with ``j`` — so variant families share (almost) no shingles with each
other and the corpus is ~10 independent copies of the original near-dup
structure, while short stopwords survive and the quality/language
curation gates behave the same at both scales. A LINEAR operator should
therefore scale close to 10x in work (pair counts ~10x); superlinear
growth in candidates, propagation rounds, or wall time is the quadratic
surprise this probe exists to surface.

Runs the heaviest catalog queries once at 1x (sf0.1) and once at 10x
(after a discarded 1x warm-up pass so JIT/scan-cache effects don't
masquerade as scaling), printing a markdown table (pair/row counts +
wall) for README.

Usage: python tools/smoke_10x.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

HEAVY = [
    "near_dup_clusters",
    "containment_pairs_hashed",
    "curation_pipeline",
    "simhash_near_dup_pairs",
    "doc_featurize",
    "frequent_phrases_hashed",
    "repetition_scores",
    "boilerplate_line_removal",
    "decontaminate_overlap",
    "curation_report_v2",
    "packed_training_sequences",
    "mixture_resample",
    # round-4 operators
    "bloom_membership_report",
    "decontaminate_overlap_bloom",
    "document_chunks",
    "minhash_estimate_pairs",
    "incremental_near_dup_estimate",
    "duplicate_span_report",
    "winnowed_dup_report",
    "span_scrubbed_docs",
    # round-4 second wave
    "lm_likelihood_scores",
    "dsir_importance_scores",
    "dsir_resample",
    "canonical_best_docs",
    # round-4 session 2 (documents-driven only: the events/embeddings
    # queries would see a 1x input from this documents-only fixture)
    "snapshot_diff",
    "data_expectations_report",
    "linear_classifier_scores",
    "bm25_search_topk",
    "decayed_trending_terms",
    "quality_percentile_by_source",
    "token_budget_plan",
    # round-5 session 3
    "gopher_quality_gate",
    # round-5 sessions 4-5
    "c4_line_filter",
    "collocation_pmi",
    "heavy_hitter_trigrams",
    "vocab_oov_report",
    "edit_distance_verify",
    "curriculum_order",
    "robots_rules_gate",
    # round-5 session 6 (documents-driven: synthesized pages / warc /
    # redirect edges all derive from the documents table)
    "link_host_graph",
    "link_pagerank",
    "anchor_text_topk",
    "crawl_frontier_plan",
    "dedup_threshold_sweep",
    "lang_confusion_matrix",
    "weighted_sample_topk",
    "redirect_chain_resolution",
    "warc_parse_report",
    # round-5 session 7 (documents-driven; sq8/calibration are
    # embeddings-joined and lsh_parameter_plan is data-free — probing
    # them against a documents-only 10x fixture would be meaningless)
    "source_vocab_divergence",
    "quality_length_correlation",
    "dedup_savings_report",
    "lang_temperature_mixture",
    # session 7 later waves (documents-driven)
    "blockmax_postings",
    "hapax_rate_report",
    "interleave_training_order",
]

# events-driven probes (sessions / graph / scheduling): run as an argv
# subset — `python tools/smoke_10x.py <sf> <out> $EVENTS_PROBE...` —
# against the events fixture below (10x traffic over a FIXED props.k
# node set). README's "10x events probe" numbers come from this list.
EVENTS_PROBE = [
    "covisit_pagerank",
    "covisit_hits",
    "covisit_components",
    "covisit_triangles",
    "crawl_frontier_hops",
    "recrawl_priorities",
    "crawl_politeness_gate",
    "session_path_counts",
    "host_volume_anomalies",
    # round-5 session 3
    "covisit_kcore",
    "covisit_walks",
    "funnel_conversion",
    # round-5 session 5
    "covisit_communities",
    # round-5 session 6
    "latest_event_state",
    "skew_report",
    "table_profile_events",
    # round-5 session 7
    "covisit_link_prediction",
]

N_VARIANTS = 10


def build_fixture(spark, sf_dir: str, out_dir: str) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    variants = []
    for j in range(N_VARIANTS):
        v = docs
        if j > 0:
            # suffix content words (≥4 chars): shingles containing any
            # content word become family-disjoint, while short stopwords
            # survive so lang-ID / quality gates pass like the original
            v = v.withColumn(
                "text", F.regexp_replace("text", r"(\S{4,})", f"$1{j}")
            )
        variants.append(
            v.withColumn("doc_id", F.col("doc_id") + F.lit(j * n))
        )
    big = variants[0]
    for v in variants[1:]:
        big = big.unionByName(v)
    big.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    # embeddings 10x for the semantic (SemDeDup) probes: variant j>0
    # adds a deterministic per-(id, coord, j) offset large enough that
    # variant families are cosine-disjoint — ~10 independent copies of
    # the original neighborhood structure, like the text fixture
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ne = emb.count()
    evariants = []
    for j in range(N_VARIANTS):
        v = emb
        if j > 0:
            v = emb.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, i) -> x + "
                    f"sin(cast(vec_id * 37 + i * 13 + {j} * 101 as double))"
                    " * 2.0)"
                ),
            )
        evariants.append(v.withColumn("vec_id", F.col("vec_id") + F.lit(j * ne)))
    ebig = evariants[0]
    for v in evariants[1:]:
        ebig = ebig.unionByName(v)
    ebig.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    # events 10x for the events-driven probes (sessions, politeness,
    # graph, recrawl): variant j>0 shifts user_id and event_id past the
    # original ranges, so the fixture is 10 independent copies of the
    # user population — identical per-family session/window structure
    # (linear operators should show ~10x work), while the props.k node
    # set stays FIXED (the web analog: 10x traffic over the same site
    # graph — PageRank's per-iteration cost must not grow with traffic)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mx = ev.agg(F.max("user_id"), F.max("event_id")).first()
    uoff, eoff = mx[0] + 1, mx[1] + 1
    vbig = ev
    for j in range(1, N_VARIANTS):
        vbig = vbig.unionByName(
            ev.withColumn("user_id", F.col("user_id") + F.lit(j * uoff))
            .withColumn("event_id", F.col("event_id") + F.lit(j * eoff))
        )
    vbig.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )


def run_suite(
    spark, sf_dir: str, names: list[str] | None = None
) -> dict[str, tuple[float, int]]:
    """Per query: min of 2 timed runs (same rationale as bench.py — this
    host throttles 2-5x in multi-second windows; the min is the
    quiet-host figure)."""
    from gush_spark.queries import all_queries

    qs = all_queries()
    out = {}
    for name in names or HEAVY:
        best, rows = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            rows = qs[name](spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        out[name] = (round(best, 1), rows)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/smoke10x"
    names = sys.argv[3:] or HEAVY  # optional subset for incremental probes
    from gush_spark.session import build_session

    spark = build_session("smoke_10x", cores=32, shuffle_partitions=64)
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    build_fixture(spark, sf_dir, out_dir)
    run_suite(spark, sf_dir, names)  # discarded warm-up: JIT + scan cache
    base = run_suite(spark, sf_dir, names)
    big = run_suite(spark, out_dir, names)
    print("| query | 1x rows | 10x rows | rows ratio | 1x wall s | 10x wall s | wall ratio |")
    print("|---|---|---|---|---|---|---|")
    for name in names:
        (bt, br), (gt, gr) = base[name], big[name]
        print(
            f"| {name} | {br} | {gr} | {gr / max(br, 1):.2f}x "
            f"| {bt} | {gt} | {gt / max(bt, 0.1):.2f}x |"
        )

    # semantic dedup probe: k-means cell count scales WITH the corpus
    # (k ∝ N keeps per-cell size — and so the quadratic pair stage —
    # constant per row; the price is the N×k assignment term, which is
    # pure codegen integer work; see SURVEY §16). Run outside the
    # catalog because the catalog query pins k for its sf0.01 oracle.
    from gush_spark.operators.similarity import semantic_dup_clusters

    def sem(sf: str, k: int) -> tuple[float, int]:
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        best, rows = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            clusters, assignments, _ = semantic_dup_clusters(
                emb, threshold=0.4, n_cells=k, iters=1, spread=None
            )
            rows = clusters.count()
            assignments.unpersist()
            best = min(best, time.perf_counter() - t0)
        return round(best, 1), rows

    n1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    k1 = max(8, int(n1 ** 0.5))
    sem(sf_dir, k1)  # warm-up
    (bt, br) = sem(sf_dir, k1)
    (gt, gr) = sem(out_dir, k1 * N_VARIANTS)
    print(
        f"| semantic_dup_clusters[k∝N: {k1}→{k1 * N_VARIANTS}] | {br} | {gr} "
        f"| {gr / max(br, 1):.2f}x | {bt} | {gt} | {gt / max(bt, 0.1):.2f}x |"
    )
    spark.stop()


if __name__ == "__main__":
    main()
