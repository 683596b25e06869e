"""Round-5 session-7 operators: resource-allocation link prediction,
LSH parameter planning, classifier calibration, temperature mixture,
vocabulary divergence, scalar quantization. Semantic pins beside the
DuckDB oracle gate (tools/verify_oracle.py checks engine-exactness;
these check the MATH is the intended math on known inputs)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "id_a string, id_b string"
    )


class TestResourceAllocation:
    def test_path_graph(self, spark):
        from gush_spark.operators.graph import resource_allocation

        # 1-2-3-4 path: the only 2-hop non-edges are (1,3) via 2 and
        # (2,4) via 3, each through one middle of degree 2.
        cached = spark.sparkContext._jsc.getPersistentRDDs().size()
        out = resource_allocation(
            _edges(spark, [("1", "2"), ("2", "3"), ("3", "4")])
        ).collect()
        got = {(r.id_a, r.id_b): (r.common_neighbors, r.ra_x1e9) for r in out}
        assert got == {("1", "3"): (1, 500_000_000), ("2", "4"): (1, 500_000_000)}
        # no cached frame outlives the call
        assert spark.sparkContext._jsc.getPersistentRDDs().size() <= cached

    def test_square_sums_common_neighbors(self, spark):
        from gush_spark.operators.graph import resource_allocation

        # square 1-2-3-4-1: (1,3) and (2,4) each have TWO degree-2
        # common neighbors -> RA = 2 * (1e9 // 2).
        out = resource_allocation(
            _edges(spark, [("1", "2"), ("2", "3"), ("3", "4"), ("1", "4")])
        ).collect()
        got = {(r.id_a, r.id_b): (r.common_neighbors, r.ra_x1e9) for r in out}
        assert got == {("1", "3"): (2, 1_000_000_000), ("2", "4"): (2, 1_000_000_000)}

    def test_existing_edges_excluded(self, spark):
        from gush_spark.operators.graph import resource_allocation

        # close (1,3): it is now an edge, so the only prediction left
        # is (2,4) (and new wedges through the 1-3 edge).
        out = resource_allocation(
            _edges(
                spark, [("1", "2"), ("2", "3"), ("3", "4"), ("1", "3")]
            )
        ).collect()
        assert ("1", "3") not in {(r.id_a, r.id_b) for r in out}


class TestLshParameterPlan:
    def test_matches_fold_reference_exactly(self, spark):
        from gush_spark.operators.dedup import MINHASH_K, lsh_parameter_plan

        rows = lsh_parameter_plan(spark).collect()
        assert len(rows) == 5 * 19  # divisors(16) x j-grid
        for r in rows:
            j = (r.jaccard_x100 / 5) / 20.0  # reconstruct i/20.0
            jr = 1.0
            for _ in range(r.rows_per_band):
                jr *= j
            miss = 1.0
            for _ in range(r.bands):
                miss *= 1.0 - jr
            assert r.collision_prob == round(1.0 - miss, 9)
            assert r.bands * r.rows_per_band == MINHASH_K

    def test_monotone_in_jaccard(self, spark):
        from gush_spark.operators.dedup import lsh_parameter_plan

        rows = lsh_parameter_plan(spark).collect()
        by_br: dict = {}
        for r in rows:
            by_br.setdefault((r.bands, r.rows_per_band), []).append(
                (r.jaccard_x100, r.collision_prob)
            )
        for curve in by_br.values():
            curve.sort()
            probs = [p for _, p in curve]
            assert all(a <= b for a, b in zip(probs, probs[1:]))
            assert 0.0 <= probs[0] and probs[-1] <= 1.0

    def test_repo_setting_threshold(self, spark):
        from gush_spark.operators.dedup import lsh_parameter_plan

        # the shipped (4 bands x 4 rows) curve crosses 0.5 between
        # j=0.60 and j=0.65 (solve (1-j^4)^4 = 0.5 -> j ~ 0.632), its
        # steep section spanning the 0.6-0.8 near-dup regime
        rows = {
            r.jaccard_x100: r.collision_prob
            for r in lsh_parameter_plan(spark).collect()
            if r.bands == 4
        }
        assert rows[60] < 0.5 < rows[65]


class TestCalibrationBins:
    def test_separable_scores(self, spark):
        from gush_spark.operators.classifier import calibration_bins

        scores = spark.createDataFrame(
            [(i, 1, i) for i in range(20)],
            "doc_id long, n_tokens long, score_scaled long",
        )
        labels = spark.createDataFrame(
            [(i, 1 if i >= 10 else 0) for i in range(20)],
            "doc_id long, label long",
        )
        out = {r.bin: r for r in calibration_bins(scores, labels).collect()}
        assert len(out) == 10
        # ntile over score DESC: bins 1-5 hold scores 19..10 (all
        # positive), bins 6-10 hold 9..0 (all negative)
        for b in range(1, 6):
            assert (out[b].n_docs, out[b].n_pos, out[b].pos_rate_ppm) == (2, 2, 1_000_000)
        for b in range(6, 11):
            assert (out[b].n_docs, out[b].n_pos, out[b].pos_rate_ppm) == (2, 0, 0)

    def test_sum_columns_exact(self, spark):
        from gush_spark.operators.classifier import calibration_bins

        scores = spark.createDataFrame(
            [(i, 2 + i, i * 10) for i in range(10)],
            "doc_id long, n_tokens long, score_scaled long",
        )
        labels = spark.createDataFrame(
            [(i, i % 2) for i in range(10)], "doc_id long, label long"
        )
        out = calibration_bins(scores, labels, n_bins=2).collect()
        assert sum(r.n_docs for r in out) == 10
        assert sum(r.sum_score_scaled for r in out) == sum(i * 10 for i in range(10))
        assert sum(r.sum_tokens for r in out) == sum(2 + i for i in range(10))


class TestTemperatureMixture:
    def test_sqrt_weights_and_apportion(self, spark):
        from gush_spark.operators.budget import apportion_budget
        from gush_spark.operators.mixture import temperature_weights

        docs = spark.createDataFrame(
            [(i, "a" if i < 100 else "b") for i in range(125)],
            "doc_id long, lang string",
        )
        tw = {r.stratum: r for r in temperature_weights(docs, "lang").collect()}
        assert tw["a"].weight == math.floor(math.sqrt(100) * 1_000_000)
        assert tw["b"].weight == math.floor(math.sqrt(25) * 1_000_000)
        alloc = {
            r.stratum: r.alloc
            for r in apportion_budget(
                temperature_weights(docs, "lang"),
                300,
                key_col="stratum",
                weight_col="weight",
            ).collect()
        }
        # natural shares would be 240/60; T=2 moves them to 200/100 —
        # the low-resource stratum is upsampled, and the total is exact
        assert alloc == {"a": 200, "b": 100}

    def test_general_temperature_refused(self, spark):
        from gush_spark.operators.mixture import temperature_weights

        docs = spark.createDataFrame([(1, "a")], "doc_id long, lang string")
        with pytest.raises(NotImplementedError):
            temperature_weights(docs, "lang", temperature=3.0)


class TestSourceVocabDivergence:
    def test_identical_sources_diverge_zero(self, spark):
        from gush_spark.operators.divergence import source_vocab_divergence

        rows = [
            (i, "the quick brown fox jumps", "A" if i % 2 == 0 else "B")
            for i in range(10)
        ]
        out = source_vocab_divergence(
            spark.createDataFrame(rows, "doc_id long, text string, source string")
        ).collect()
        # each source's distribution IS the corpus distribution, and
        # the ppb floors cancel exactly (c*1e9//n == 2c*1e9//2n)
        assert {r.source: r.l1_x1e9 for r in out} == {"A": 0, "B": 0}
        assert all(r.n_tokens == 25 for r in out)

    def test_outlier_source_diverges(self, spark):
        from gush_spark.operators.divergence import source_vocab_divergence

        rows = [(i, "common words shared here", "A") for i in range(9)]
        rows.append((99, "zzz qqq xxx vvv", "B"))
        out = {
            r.source: r.l1_x1e9
            for r in source_vocab_divergence(
                spark.createDataFrame(
                    rows, "doc_id long, text string, source string"
                )
            ).collect()
        }
        assert out["B"] > out["A"] > 0


class TestSq8Report:
    def test_constant_dims_zero_error(self, spark):
        from gush_spark.operators.pq import sq8_report

        emb = spark.createDataFrame(
            [(0, [3.0, -1.0]), (1, [3.0, -1.0])],
            "vec_id long, embedding array<float>",
        )
        for r in sq8_report(emb).collect():
            assert (r.sse, r.max_abs_err, r.n_dims) == (0.0, 0.0, 2)

    def test_error_bounded_by_step(self, spark):
        from gush_spark.operators.pq import sq8_report

        emb = spark.createDataFrame(
            [(i, [float(i), float(2 * i), 7.5]) for i in range(16)],
            "vec_id long, embedding array<float>",
        )
        out = sq8_report(emb).collect()
        # per-dim quantization step = range/255; floor-codes err in
        # [0, step); dim 3 is constant -> contributes nothing
        step = max(15.0 / 255, 30.0 / 255)
        for r in out:
            assert 0.0 <= r.max_abs_err < step + 1e-12
            assert r.sse <= 3 * step * step

    def test_known_values(self, spark):
        from gush_spark.operators.pq import sq8_report

        emb = spark.createDataFrame(
            [(0, [0.0]), (1, [1.0]), (2, [2.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r.vec_id: r for r in sq8_report(emb).collect()}
        # v=1: code floor(1*255/2)=127, dequant 127*2/255 = 254/255
        err = 1.0 - 127 * 2.0 / 255
        assert out[0].sse == 0.0 and out[2].sse == 0.0
        assert out[1].sse == round(err * err, 9)
        assert out[1].max_abs_err == round(err, 9)


class TestSpearmanRho:
    def test_perfect_and_inverse(self, spark):
        from gush_spark.operators.correlation import spearman_rho

        df = spark.createDataFrame(
            [(i, float(i), float(10 - i)) for i in range(10)],
            "doc_id long, a double, b double",
        )
        same = spearman_rho(df, "a", "a").collect()[0]
        assert (same.rho, same.sum_d2) == (1.0, 0)
        inv = spearman_rho(df, "a", "b").collect()[0]
        assert inv.rho == -1.0

    def test_known_value(self, spark):
        from gush_spark.operators.correlation import spearman_rho

        # ranks a: 1..5 ; ranks b for values [1,3,2,5,4]: d = 0,1,1,1,1
        df = spark.createDataFrame(
            [(1, 1.0, 1.0), (2, 2.0, 3.0), (3, 3.0, 2.0),
             (4, 4.0, 5.0), (5, 5.0, 4.0)],
            "doc_id long, a double, b double",
        )
        r = spearman_rho(df, "a", "b").collect()[0]
        assert r.sum_d2 == 4
        assert r.rho == round(1.0 - 6.0 * 4 / (5 * 24), 9)


class TestDedupSavingsReport:
    def test_histogram_and_chars(self, spark):
        from gush_spark.operators.dedup import dedup_savings_report

        rows = [
            (1, "aa bb", 5), (2, "aa bb", 5), (3, "aa  bb", 6),  # 3-cluster
            (4, "cc", 2), (5, "cc", 2),                           # 2-cluster
            (6, "dd", 2),                                         # singleton
        ]
        out = {
            r.cluster_size: r
            for r in dedup_savings_report(
                spark.createDataFrame(
                    rows, "doc_id long, text string, n_chars long"
                ),
                "doc_id",
                "text",
            ).collect()
        }
        # normalization folds the double space, so docs 1-3 cluster
        assert (out[3].n_clusters, out[3].n_docs, out[3].n_dropped) == (1, 3, 2)
        assert out[3].chars_dropped == (5 + 5 + 6) - 5  # keeper = doc 1
        assert (out[2].n_clusters, out[2].n_dropped, out[2].chars_dropped) == (1, 1, 2)
        assert (out[1].n_clusters, out[1].n_dropped, out[1].chars_dropped) == (1, 0, 0)


class TestDrainSchedule:
    def test_quota_caps_and_ceil(self, spark):
        from gush_spark.operators.budget import drain_schedule

        demand = spark.createDataFrame(
            [("big", 90), ("small", 10)], "host string, n_pages long"
        )
        out = {
            r.host: r
            for r in drain_schedule(demand, 100, 40, key_col="host").collect()
        }
        # apportionment: big 90, small 10; politeness caps big at 40
        assert (out["big"].alloc, out["big"].effective_rate) == (90, 40)
        assert out["big"].cycles_to_drain == 3  # ceil(90/40)
        assert (out["small"].effective_rate, out["small"].cycles_to_drain) == (10, 1)

    def test_zero_rate_is_null_not_infinite(self, spark):
        from gush_spark.operators.budget import drain_schedule

        demand = spark.createDataFrame(
            [("a", 1_000_000), ("b", 1)], "host string, n_pages long"
        )
        out = {
            r.host: r for r in drain_schedule(demand, 1, 5, key_col="host").collect()
        }
        # the single slot goes to the largest remainder; the other host
        # is unscheduled this cycle -> NULL, never a divide-by-zero
        assert sum(r.alloc for r in out.values()) == 1
        starved = [r for r in out.values() if r.alloc == 0][0]
        assert starved.cycles_to_drain is None


class TestInterleaveOrder:
    def test_round_robin_depths(self, spark):
        from gush_spark.operators.curriculum import interleave_order

        docs = spark.createDataFrame(
            [(i, "s%d" % (i % 3)) for i in range(12)],
            "doc_id long, source string",
        )
        out = sorted(
            interleave_order(docs, stratum_col="source").collect(),
            key=lambda r: r.rank,
        )
        # rank is a gapless 1..N permutation and depth never decreases
        assert [r.rank for r in out] == list(range(1, 13))
        depths = [r.depth for r in out]
        assert depths == sorted(depths)
        # every depth-1 block holds each source exactly once
        first_block = [r.source for r in out if r.depth == 1]
        assert sorted(first_block) == ["s0", "s1", "s2"]

    def test_unequal_strata_drop_out(self, spark):
        from gush_spark.operators.curriculum import interleave_order

        docs = spark.createDataFrame(
            [(0, "big"), (1, "big"), (2, "big"), (3, "small")],
            "doc_id long, source string",
        )
        out = sorted(
            interleave_order(docs, stratum_col="source").collect(),
            key=lambda r: r.rank,
        )
        # depth 1: both strata; depths 2-3: only the big one remains
        assert [r.depth for r in out] == [1, 1, 2, 3]
        assert sorted(r.source for r in out[:2]) == ["big", "small"]
        assert [r.source for r in out[2:]] == ["big", "big"]


class TestSq8DimStats:
    def test_collapsed_vs_spread_dim(self, spark):
        from gush_spark.operators.pq import sq8_dim_stats

        emb = spark.createDataFrame(
            [(i, [7.0, float(i)]) for i in range(16)],
            "vec_id long, embedding array<float>",
        )
        out = {r.dim: r for r in sq8_dim_stats(emb).collect()}
        # dim 0 is constant: code 0 everywhere, zero variance
        assert (out[0].n_distinct_codes, out[0].sum_code, out[0].code_var) == (1, 0, 0.0)
        # dim 1 spreads 0..15 over the full code range: 16 distinct codes
        assert out[1].n_distinct_codes == 16
        assert out[1].code_var > 0
        assert (out[1].mn, out[1].mx) == (0.0, 15.0)

    def test_integer_sums_match_python(self, spark):
        from gush_spark.operators.pq import sq8_dim_stats

        vals = [0.0, 1.0, 3.0, 4.0]
        emb = spark.createDataFrame(
            [(i, [v]) for i, v in enumerate(vals)],
            "vec_id long, embedding array<float>",
        )
        r = sq8_dim_stats(emb).collect()[0]
        codes = [int(min(255, max(0, (v - 0.0) * 255 // 4))) for v in vals]
        assert r.sum_code == sum(codes)
        assert r.sum_code_sq == sum(c * c for c in codes)
        n = len(codes)
        assert r.code_var == round(
            sum(c * c for c in codes) / n - (sum(codes) / n) ** 2, 9
        )


class TestBlockmaxPostings:
    def test_blocks_partition_posting_list(self, spark):
        from gush_spark.operators.keywords import blockmax_postings

        docs = spark.createDataFrame(
            [(i, "common unique%d" % i) for i in range(300)],
            "doc_id long, text string",
        )
        out = blockmax_postings(docs, block_size=128).collect()
        # unique terms are df=1 -> pruned by min_df; only "common" stays
        assert {r.term for r in out} == {"common"}
        blocks = sorted(out, key=lambda r: r.block)
        assert [r.n_docs for r in blocks] == [128, 128, 44]
        # doc-id ranges tile the posting list without overlap
        for a, b in zip(blocks, blocks[1:]):
            assert a.doc_hi < b.doc_lo
        assert blocks[0].doc_lo == 0 and blocks[-1].doc_hi == 299
        # identical docs -> identical scores -> block max equal across blocks
        assert len({r.block_max_micro for r in blocks}) == 1
        assert blocks[0].block_max_micro > 0

    def test_block_max_bounds_members(self, spark):
        from gush_spark.operators.keywords import blockmax_postings, bm25_search

        texts = [(i, ("hot " * (1 + i % 4)) + "pad%d" % i) for i in range(40)]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        idx = {r.block: r for r in blockmax_postings(
            docs, block_size=16).collect() if r.term == "hot"}
        # per-doc micro-scores from the exhaustive scorer must respect
        # each block's recorded maximum
        scored = bm25_search(docs, ["hot"], k=40).collect()
        per_doc = {r.doc_id: r.score_micro for r in scored}
        for r in idx.values():
            members = [per_doc[d] for d in per_doc
                       if r.doc_lo <= d <= r.doc_hi]
            assert r.block_max_micro == max(members)


class TestAdcRerank:
    def test_full_shortlist_equals_exact_topk(self, spark):
        from gush_spark.operators.pq import (
            pq_adc_rerank_topk, pq_encode, pq_train,
        )
        from gush_spark.operators.similarity import KMEANS_QUANT
        import math

        vecs = [(i, [math.sin(i * 1.7 + j) for j in range(8)])
                for i in range(20)]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        queries = emb.filter(F.col("vec_id") < 2)
        cb = pq_train(emb, iters=1, dim=8)
        codes = pq_encode(emb, cb, dim=8)
        out = pq_adc_rerank_topk(
            codes, cb, queries, emb, r=20, k=5, dim=8
        ).collect()
        # with r = |corpus| the rerank IS the exact quantized top-k
        import numpy as np
        fl = {i: [float(np.float32(x)) for x in v] for i, v in vecs}
        q = {i: [math.floor(x * KMEANS_QUANT) for x in fl[i]] for i in fl}
        for qid in (0, 1):
            dists = sorted(
                (sum((a - b) ** 2 for a, b in zip(q[qid], q[n])), n)
                for n in q
            )[:5]
            got = sorted(
                [(r.exact_dist, r.neighbor_id) for r in out
                 if r.query_id == qid]
            )
            assert got == dists

    def test_rank_ordered_by_exact(self, spark):
        from gush_spark.operators.pq import (
            pq_adc_rerank_topk, pq_encode, pq_train,
        )

        emb = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 5), float(i % 3), float(i)])
             for i in range(30)],
            "vec_id long, embedding array<float>",
        )
        queries = emb.filter(F.col("vec_id") == 0)
        cb = pq_train(emb, iters=1, dim=4)
        codes = pq_encode(emb, cb, dim=4)
        out = sorted(
            pq_adc_rerank_topk(codes, cb, queries, emb, r=8, k=4,
                               dim=4).collect(),
            key=lambda r: r.rank,
        )
        assert len(out) == 4
        ds = [r.exact_dist for r in out]
        assert ds == sorted(ds)
        assert out[0].neighbor_id == 0 and out[0].exact_dist == 0


class TestHapaxReport:
    def test_hand_counts(self, spark):
        from gush_spark.operators.divergence import hapax_report

        docs = spark.createDataFrame(
            [(0, "a a b", "A"), (1, "c", "B")],
            "doc_id long, text string, source string",
        )
        out = {r.source: r for r in hapax_report(docs).collect()}
        a = out["A"]
        assert (a.n_tokens, a.n_types, a.n_hapax) == (3, 2, 1)
        assert (a.hapax_token_ppm, a.hapax_type_ppm) == (333333, 500000)
        b = out["B"]
        assert (b.n_tokens, b.n_types, b.n_hapax) == (1, 1, 1)
        assert (b.hapax_token_ppm, b.hapax_type_ppm) == (1000000, 1000000)

    def test_cross_source_word_not_hapax(self, spark):
        from gush_spark.operators.divergence import hapax_report

        docs = spark.createDataFrame(
            [(0, "shared", "A"), (1, "shared", "B")],
            "doc_id long, text string, source string",
        )
        out = {r.source: r for r in hapax_report(docs).collect()}
        # the word is corpus-count 2: no hapax anywhere
        assert out["A"].n_hapax == 0 and out["B"].n_hapax == 0


class TestRrfFuse:
    def test_hand_fusion(self, spark):
        from gush_spark.operators.similarity import rrf_fuse

        r1 = spark.createDataFrame(
            [(0, "A", 1), (0, "B", 2), (0, "C", 3)],
            "query_id long, neighbor_id string, rank long",
        )
        r2 = spark.createDataFrame(
            [(0, "B", 1), (0, "A", 2)],
            "query_id long, neighbor_id string, rank long",
        )
        out = sorted(rrf_fuse([r1, r2]).collect(), key=lambda r: r.rank)
        pts = lambda rk: 1_000_000 // (60 + rk)
        # A and B tie exactly (1+2 vs 2+1); neighbor asc breaks the tie
        assert [(r.neighbor_id, r.rrf_x1e6, r.n_systems) for r in out] == [
            ("A", pts(1) + pts(2), 2),
            ("B", pts(2) + pts(1), 2),
            ("C", pts(3), 1),
        ]

    def test_consensus_beats_single_high_rank(self, spark):
        from gush_spark.operators.similarity import rrf_fuse

        r1 = spark.createDataFrame(
            [(0, "solo", 1), (0, "both", 2)],
            "query_id long, neighbor_id string, rank long",
        )
        r2 = spark.createDataFrame(
            [(0, "both", 2)], "query_id long, neighbor_id string, rank long"
        )
        out = {r.neighbor_id: r for r in rrf_fuse([r1, r2]).collect()}
        # two rank-2 votes (2x 16129) beat one rank-1 vote (16393)
        assert out["both"].rank == 1 and out["solo"].rank == 2


class TestShippingPriority:
    def test_catalog_query_shape(self, spark):
        from gush_spark.queries_pipeline import load  # noqa: F401
        import gush_spark.queries as q

        out = q.q_shipping_priority_topk(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert 0 < len(out) <= 10
        revs = [r.revenue for r in out]
        assert revs == sorted(revs, reverse=True)
        assert all(r.o_orderpriority for r in out)


class TestSnowflakeJoins:
    def test_local_supplier_volume_nations(self, spark):
        import gush_spark.queries as q

        out = q.q_local_supplier_volume(
            spark, "/root/testdata/sf0.001"
        ).collect()
        # one row per ASIA nation present in the join; revenue positive
        assert 0 < len(out) <= 5
        assert all(r.revenue > 0 and r.n_lineitems > 0 for r in out)

    def test_promo_share_bounded(self, spark):
        import gush_spark.queries as q

        r = q.q_promo_revenue_share(spark, "/root/testdata/sf0.001").collect()[0]
        assert 0.0 <= r.promo_share <= 1.0
        assert abs(r.promo_share - r.promo_revenue / r.total_revenue) < 1e-12


class TestCubeEventStats:
    def test_margins_consistent(self, spark):
        import gush_spark.queries as q

        rows = q.q_cube_event_stats(spark, "/root/testdata/sf0.001").collect()
        total = [r for r in rows
                 if r.event_type == "ALL" and r.day_bucket == "ALL"]
        assert len(total) == 1
        cells = [r for r in rows
                 if r.event_type != "ALL" and r.day_bucket != "ALL"]
        assert sum(r.n_events for r in cells) == total[0].n_events
        # per-type margin equals the sum of its cells
        by_type = {}
        for r in cells:
            by_type[r.event_type] = by_type.get(r.event_type, 0) + r.n_events
        for r in rows:
            if r.event_type != "ALL" and r.day_bucket == "ALL":
                assert r.n_events == by_type[r.event_type]

    def test_null_key_is_not_a_margin(self, spark, tmp_path):
        import datetime as dt

        import gush_spark.queries as q

        # a NULL event type is a data cell; coalesce(…, 'ALL') used to
        # label it as the per-day margin and so duplicate that row
        spark.createDataFrame(
            [("crawl", dt.datetime(2024, 1, 1, 5), 1.0),
             (None, dt.datetime(2024, 1, 1, 6), 2.0)],
            "event_type string, ts timestamp, value double",
        ).write.parquet(str(tmp_path / "events.parquet"))
        rows = q.q_cube_event_stats(spark, str(tmp_path)).collect()
        labels = [(r.event_type, r.day_bucket) for r in rows]
        assert len(labels) == len(set(labels))
        assert labels.count(("ALL", "ALL")) == 1
        assert sum(1 for t, _ in labels if t is None) == 2  # its day + its margin


class TestRendezvous:
    def test_matches_python_reference(self, spark):
        from gush_spark.sources.layout import rendezvous_shard
        import hashlib

        df = spark.createDataFrame(
            [(str(i),) for i in range(50)], "_rk string"
        )
        out = {
            r._rk: r.s
            for r in df.select(
                "_rk", rendezvous_shard("_rk", 16).alias("s")
            ).collect()
        }

        def hrw(key, n):
            return max(
                range(n),
                key=lambda s: int(
                    hashlib.md5(f"{key}|{s}".encode()).hexdigest()[:15], 16
                ),
            )

        for k, s in out.items():
            assert s == hrw(k, 16)

    def test_minimal_movement_on_growth(self, spark):
        from gush_spark.sources.layout import rendezvous_rebalance_report

        df = spark.createDataFrame(
            [(i,) for i in range(2000)], "doc_id long"
        )
        rows = rendezvous_rebalance_report(
            df, "doc_id", n_shards=16, n_shards_after=17
        ).collect()
        n = sum(r.n_docs for r in rows)
        moved = sum(r.n_moved for r in rows)
        assert n == 2000
        # HRW: expected moved fraction = 1/17 ~ 5.9%; allow wide noise
        # bounds (binomial sd ~0.5%) — mod-N hashing would move ~94%
        assert 0.02 < moved / n < 0.12
        assert all(0 <= r.shard < 16 for r in rows)
