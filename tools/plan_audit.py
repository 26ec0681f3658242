"""Plan audit: build every registered query's physical plan and flag
scale smells — a single table scanned many times (the no-ReusedExchange
recompute trap, SCALE.md), nested-loop/cartesian joins, row-at-a-time
Python evaluation, and SINGLE-PARTITION WINDOWS whose input is not
provably bounded (no aggregation between the global sort-exchange and a
corpus-sized scan — the one shape that silently serializes 100 TB onto
one task).

The bounded-global-window invariant: every `Window.orderBy` without a
partitionBy must sit on an aggregated (group-cardinality) frame. Sites
that ARE bounded but not via an aggregate visible in the plan (driver-
built literal frames, broadcast-bounded inputs the detector can't prove)
are whitelisted by query name in ``BOUNDED_GLOBAL_WINDOW_OK`` with the
reason reviewed at add time.

r10 adds the ``build-jobs`` column: the number of Spark jobs a query
EXECUTES while merely constructing its DataFrame (counted via a
per-query job group). Plan-only tooling pays these eagerly — dispatch
count probes (1-2 bounded jobs: weighted-jaccard arms, SemDeDup k,
suffix auto-dispatch, ANN trainer/occupancy probes) and the
distrank top-tier fold (operators/distrank.py: top_df.count() + a
≤100k-row collect + gt.count(), all bounded by construction, per the
module docstring). Report-only; ``build-jobs xN`` flags N ≥ 10 as
excessive eager work.

Usage: python tools/plan_audit.py [sf_dir] [name ...]
Prints one line per query: scans-per-table, exchange count, join kinds,
and a FLAG column when a smell triggers. Exit code = number of
global-window violations plus queries that fail to build (other smells
stay report-only); names the registry does not know exit 1 before Spark
starts.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Nodes that BOUND the rows flowing up through them: aggregation output is
# group-cardinality; broadcast sides are ≤ the broadcast threshold;
# LocalTableScan / one-row plans are driver literals; WindowGroupLimit and
# (Take/CollectLimit) cap rows explicitly.
_BOUNDING_RE = re.compile(
    r"\b(HashAggregate|SortAggregate|ObjectHashAggregate|BroadcastExchange|"
    r"BroadcastQueryStage|WindowGroupLimit|TakeOrderedAndProject|"
    r"CollectLimit|GlobalLimit|LocalLimit)\b"
)
# Corpus-sized leaves. LocalTableScan (driver literals) is intentionally
# absent; Scan ExistingRDD covers localCheckpoint rematerializations, which
# ARE corpus-sized.
_SCAN_RE = re.compile(r"\b(FileScan|BatchScan|InMemoryTableScan)\b|Scan ExistingRDD")

# Reviewed bounded-by-construction sites the plan shape can't prove: each
# of these windows over a localCheckpoint(eager=False) of an AGGREGATED
# frame, and the checkpoint surfaces as `Scan ExistingRDD` — hiding the
# aggregate that bounds it. Reviewed at add time; re-review when touched.
BOUNDED_GLOBAL_WINDOW_OK: set[str] = {
    # days-cardinality daily-revenue series (groupBy o_orderdate, ckpt)
    "stats_runs_test",
    # months-cardinality monthly-revenue series (groupBy month, ckpt)
    "stats_theil_sen_trend",
    # value-cardinality n_chars step series (groupBy n_chars, ckpt)
    "stats_ks_two_sample",
    # calendar-cardinality daily-revenue series (groupBy day, ckpt) —
    # the centered-MA trend window rides ~30 rows (365 at a year)
    "timeseries_seasonal_decompose",
    # --- r12: day-census series behind a localCheckpoint (the detector
    # sees Scan ExistingRDD, not the bounding groupBy(day) above it) —
    # every window here rides calendar-cardinality census rows
    "timeseries_variance_ratio",
    "timeseries_pacf_durbin_levinson",
    "timeseries_theil_u",
    "timeseries_ljung_box",
}


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, text) per plan line; depth = marker offset, root = 0.
    Whole-stage-codegen prefixes ('*(3) Sort ...') are stripped so the
    detector's startswith checks see the operator name — without this a
    finalized (AQE-off or post-execution) plan hides every codegen'd
    Sort/Project link in the window→exchange chain and the detector
    silently returns no violations."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        m = re.match(r"^(.*?)(?:\+-|:-) (.*)$", line)
        if m and set(m.group(1)) <= set(" :+|-"):
            depth, txt = len(m.group(1)) + 3, m.group(2)
        else:
            depth, txt = 0, line.strip()
        out.append((depth, re.sub(r"^\*\(\d+\) ", "", txt)))
    return out


def unbounded_global_windows(plan: str) -> list[str]:
    """Window nodes fed by an Exchange SinglePartition that can reach a
    corpus-sized scan without crossing a bounding node. Returns the
    offending Window lines (empty = invariant holds)."""
    nodes = _parse_tree(plan)
    bad = []
    for i, (d, txt) in enumerate(nodes):
        if not txt.startswith("Window "):
            continue
        # follow the operator chain below the window to its exchange,
        # skipping order-only nodes
        j = i + 1
        exch = None
        while j < len(nodes) and nodes[j][0] > d:
            t = nodes[j][1]
            if t.startswith("Sort ") or t.startswith("AQEShuffleRead") or t.startswith(
                "ShuffleQueryStage"
            ) or t.startswith("Project "):
                j += 1
                continue
            if t.startswith("Exchange SinglePartition"):
                exch = j
            break
        if exch is None:
            continue
        # walk the exchange's subtree; a scan with no open bounding
        # ancestor inside the subtree = unbounded global window
        ed = nodes[exch][0]
        bound_depths: list[int] = []
        for k in range(exch + 1, len(nodes)):
            kd, kt = nodes[k]
            if kd <= ed:
                break
            while bound_depths and kd <= bound_depths[-1]:
                bound_depths.pop()
            if _BOUNDING_RE.search(kt):
                bound_depths.append(kd)
                continue
            if _SCAN_RE.search(kt) and not bound_depths:
                bad.append(txt[:120])
                break
    return bad


# Column-name markers for OPEN-DOMAIN group keys: a no-partition Window
# "bounded" by an aggregate whose key is a token / document / user /
# free-text column is only as bounded as that domain — which grows with
# the corpus (|V| ~ 1e8-1e9 whitespace tokens at web scale). Report-only:
# the r8 text_zipf_fit escape rode exactly this heuristic gap.
_OPEN_DOMAIN_KEY_RE = re.compile(
    r"\b(tok|doc_id|word|term|gram|shingle|phrase|chunk|vec_id|user_id|"
    r"text|title|name|query|message)\w*#\d+"
)

# Reviewed open-domain-keyed global windows (report-only smell): each is
# either capped upstream of the window or rides a frame already reduced
# below the key domain. Reviewed at add time; re-review when touched.
OPEN_DOMAIN_WINDOW_OK: dict[str, str] = {
    # dense-re-rank vidx window rides the DISTINCT vocabulary, which the
    # |V| <= 2048 dispatch gate (a 1-row count BEFORE plan choice) has
    # already proven bounded — the sparse branch has no such window
    "dedup_weighted_jaccard_icws": "vidx over |V|<=2048-gated vocabulary",
}

# Reviewed queries that execute >=10 bounded Spark jobs at DataFrame-
# construction time (the build-jobs smell). Every entry's eager work is
# bounded by construction; reviewed at add time, re-review when touched.
BUILD_JOBS_OK: dict[str, str] = {
    # r12: four chained census localCheckpoints (grp x value census,
    # deviation census, scored cells, 5-row group fold) materialize at
    # plan-print time — every one is census-bounded (distinct n_chars
    # values x 5 langs), never corpus-sized
    "stats_fligner_killeen": "chained census checkpoints (bounded)",
    # distrank top-tier fold: top_df.count() + <=100k-row collect +
    # gt.count() per exclusive_prefix call (operators/distrank.py
    # docstring), x2 calls here (vocab rank + shuffled-baseline rank)
    "text_zipf_fit": "distrank bounded fold x2 + dispatch counts",
    # MLlib KMeans coarse fit runs ~2 jobs/iteration on a <=max_train
    # sample; plus the _exceeds dispatch probe (limit-bounded)
    "similarity_ivf_topk": "KMeans sample fit (bounded <=max_train rows)",
    "similarity_hnsw_topk": "KMeans sample fit + occupancy count",
    # driver codebook fits collect one <=max_train sample; the ADC
    # tables are built from the collected QUERY set (8 rows)
    "similarity_pq_adc_topk": "PQ sample fit (bounded collect)",
    "similarity_ivfpq_topk": "coarse+PQ sample fits (bounded collects)",
    # dense-arm dispatch: d.count + |V| count + profile checkpoint
    "dedup_weighted_jaccard": "arm dispatch counts (1-row statistics)",
    # --- iterative fixpoint loops: one bounded convergence action per
    # round (1-row count / changed-count), rounds capped; the per-round
    # lineage is cut by localCheckpoint so jobs stay shallow. The jobs
    # ARE the algorithm (label-prop/peeling/BFS/power-iteration rounds),
    # not accidental eager work.
    "graph_pagerank_names": "power-iteration rounds (capped)",
    "graph_connected_components": "min-label fixpoint rounds",
    "graph_cc_large_small_star": "large/small-star fixpoint + census",
    "graph_label_propagation": "label-prop rounds (capped)",
    "graph_kcore_peel": "peeling rounds (degeneracy-bounded)",
    # r13: 8 unrolled BPE merge rounds — per round one vocabulary-
    # bounded pair aggregate feeds a 1-row argmax checkpoint and a
    # replace checkpoint; the jobs ARE the training loop
    "text_bpe_train_merges": "BPE merge rounds (8, vocabulary-bounded)",
    # r13 batch 2: the encode pass replays the same 8-round trainer
    # sub-plan before the corpus join — identical bound
    "text_bpe_apply_encoding": "BPE trainer sub-plan (8 rounds, vocabulary-bounded)",
    # r13: the DoReMi weights sub-plan (token-keyed aggregates +
    # checkpoints, llmdata28) plus the manifest checkpoint and the
    # 1-row max materialize at build; all vocabulary/|sources|-bounded
    "sample_mixture_curriculum": "DoReMi weights sub-plan + manifest checkpoint (bounded)",
    # r13: min-label CC rounds over the <=128-image twin graph plus the
    # pHash mapInPandas checkpoint — the CC-fixpoint family discipline
    "image_phash_hamming_clusters": "min-label CC rounds (<=128 nodes)",
    # r13 batch 3: the minhash-LSH pair build + 6 min-label CC rounds
    # (the dedup_minhash_clusters_cc loop) plus the quality join — the
    # CC-fixpoint family discipline, edges from banded LSH
    "dedup_cluster_keep_best": "LSH pair build + min-label CC rounds",
    "graph_bfs_name_distances": "BFS frontier rounds (diameter-bounded)",
    "graph_weighted_sssp": "Bellman-Ford rounds (capped)",
    "graph_hits_hub_authority": "HITS power rounds (capped)",
    "embedding_kmeans_lloyd": "Lloyd rounds, kxd driver traffic each",
    "ml_kmeans_exact": "Lloyd rounds, integer-sum centroid state",
    "sample_coreset_kmeans": "sensitivity-sampling rounds (capped)",
    "dedup_minhash_clusters_cc": "LSH cand + min-label fixpoint rounds",
    "dedup_cluster_canonical": "min-label fixpoint rounds",
    "dedup_longest_substring_unbounded": "prefix-doubling rounds (<=log)",
    "dedup_weighted_jaccard_icws": "sketch build + |V| dispatch counts",
    "similarity_beam_search_topk": "greedy beam hops (capped)",
    "text_keyphrase_textrank": "TextRank power rounds (capped)",
    "text_shingle_novelty": "distrank bounded fold + dispatch counts",
    "ml_naive_bayes_train": "per-class bounded moment collects",
    "range_join_value_neighbors_distributed": "two-tier prefix fold",
    # grid-bounded driver fold (r13 optimization pass): census + density
    # stay distributed; the <=G^2 (2500-cell) frame is collected once and
    # the CC fixpoint computed exactly by union-find (equivalence proof
    # at the call site in workloads/relational50.py)
    "spatial_dbscan_grid": "grid-bounded CC driver fold (<=2500 rows)",
    # 3 BFS rounds + one edges materialization shared by all rounds —
    # without it each round would rescan lineitem multiplicatively (r10)
    "graph_closeness_centrality": "BFS frontier rounds (radius 3)",
    # --- r11 adjudications (VERDICT r10, What's wrong #4) ---
    # two exclusive_prefix calls (pre_toks, pre_new), each 2-3 bounded
    # jobs per tier, + the log-grid fit's bounded moment folds; every
    # fold is over the <=100k super-bucket tier or a <=30-point grid
    "text_heaps_law_fit": "distrank bounded fold x2 + log-grid fit",
    # 4 synchronous min-label rounds (same fixpoint class as the
    # graph_cc family), one bounded action per round; the Q fold is
    # community-count-sized
    "graph_modularity_score": "min-label fixpoint rounds (4, capped)",
    # distrank ntile_from_rank tiers (<=100k super-buckets per tier);
    # downstream frame is the 10-row decile table
    "ml_lift_gains_deciles": "distrank decile tiers (bounded folds)",
    # two capture passes' localCheckpoints + 1-row n1/n2/m count
    # statistics; every eager job is a groupBy(doc) min or a 1-row agg
    "dedup_capture_recapture_estimate": "capture checkpoints + 1-row counts",
    # exclusive_prefix over the packed (lang,hash,doc) key (bounded
    # tier folds) + the class-count/n_min 1-row dispatch statistics
    "sample_class_balanced": "distrank tier folds + 1-row class stats",
    # --- r11 batch ---
    # 3 unrolled ESD rounds over the calendar-bounded day census: each
    # round's moment agg / argmax-limit / anti-join is census-row work
    "stats_esd_outlier_rounds": "ESD rounds over day census (3, bounded)",
    # three 25-row nation-grade rank censuses broadcast back + the S
    # fold: every eager build is a dim-bounded (<=25 rows) broadcast
    "eval_kendalls_w": "25-row rank-census broadcasts (dim-bounded)",
}

# Reviewed CartesianProduct plans: each is a bounded-by-construction
# pair frame (both sides capped far below data scale), so the quadratic
# form cannot grow with the corpus. Reviewed at add time.
CARTESIAN_OK: dict[str, str] = {
    # 10x10 decile self-join for the cumulative fold + 1-row broadcast
    # totals: at most 100 pairs at ANY corpus size
    "ml_lift_gains_deciles": "10x10 decile self-join (bounded 100 pairs)",
}

# Reviewed multi-BroadcastNestedLoopJoin plans: every BNLJ side is a
# 1-row aggregate (scalar statistic) crossed into the result row — the
# single-BNLJ allowance generalized to queries that combine several
# scalar statistics. Reviewed at add time.
MULTI_BNLJ_OK: dict[str, str] = {
    # n1/n2/m capture-total 1-row aggregates crossed into the Chapman
    # estimator row
    "dedup_capture_recapture_estimate": "1-row n1/n2/m scalar crosses",
    # offs (per-class offset, <=|classes| rows) + n_min 1-row scalar
    "sample_class_balanced": "1-row n_min + class-offset broadcasts",
    # grand-median + half-count 1-row scalars crossed into the census
    "stats_moods_median": "1-row median/half-count broadcasts",
    # n_names/block-stats/verify 1-row scalar crosses into the summary
    "er_consonant_skeleton_blocking": "1-row blocking-profile scalars",
    # 1-row item-count scalar + 25-row rank censuses crossed in
    "eval_kendalls_w": "1-row count + dim-bounded rank broadcasts",
    # --- r13 adjudications ---
    # chi2/hx/hxy 1-row quantized-sum scalars + the 1-row (n, r, c)
    # census totals crossed into the single association-stats row
    "clickhouse_categorical_association": "1-row chi2/entropy/total scalar crosses",
    # 1-row p75 census cut + 1-row confusion aggregate crossed into
    # the battery row
    "ml_mcc_threshold": "1-row threshold + confusion scalar crosses",
    # --- r12 adjudications (VERDICT r11, Next round #2) ---
    # each entry states the bound that keeps every BNLJ side 1-row or
    # dimension-sized; spot-read at adjudication time (relative
    # file:line cites are the source of each bound)
    # |types|^2 pair frame (event-type domain) + 1-row totals;
    # relational20.py:148-171
    "audience_overlap_matrix": "|types|^2 pairs + 1-row totals",
    # 1-row EM parameter rows (u0, m1/u1/lam) crossed onto the bounded
    # candidate-pair frame; relational35.py:563-597
    "er_fellegi_sunter_em": "1-row EM parameter broadcasts",
    # 1-row estimate + confusion-matrix scalars onto field rows;
    # relational35.py:225-254
    "er_fellegi_sunter_scoring": "1-row estimate/confusion scalars",
    # 1-row corpus-size N broadcast onto the scored frame;
    # llmdata23.py:145
    "eval_retrieval_metrics": "1-row corpus-size scalar",
    # 1-row max-norm scalars for hub and authority normalization;
    # relational39.py:112-128
    "graph_hits_hub_authority": "1-row hub/auth max-norm scalars",
    # 1-row global census (gn/gs/gs2) + 1-row bin total crossed onto
    # the EMD grid; relational46.py:79,442-443
    "kanon_tcloseness_audit": "1-row global-census scalars",
    # four 1-row aggregates (min/max, two zone summaries, two counts)
    # onto a single output row; llmdata25.py:257-316
    "layout_zonemap_skipping": "1-row min/max + zone-summary scalars",
    # 1-row peak-concurrency + session/change-point counts;
    # llmdata16.py:550-553
    "logpipe_concurrency_profile": "1-row peak/count scalars",
    # 1-row OLS coefficient row + conformal quantile + test scalars;
    # relational45.py:423-462
    "ml_conformal_interval": "1-row coef/quantile/test scalars",
    # 1-row Newton parameter vector crossed onto observations each
    # iteration; llmdata28.py:930-996
    "ml_logistic_newton2": "1-row Newton parameter broadcasts",
    # 1-row vocab/total scalars + |C|-row class stats (class domain);
    # llmdata19.py:115,323-360
    "ml_naive_bayes_train": "1-row vocab/total + |C|-row class stats",
    # 1-row corpus totals + per-source (source domain) shares;
    # llmdata28.py:657-694
    "sample_doremi_weights": "1-row totals + |sources|-row shares",
    # 1-row ns/nt totals crossed onto the hash-bucket frame;
    # llmdata16.py:230,323-324
    "sample_dsir_importance": "1-row ns/nt total scalars",
    # 1-row exact-count scalars crossed onto sketch estimate rows;
    # relational25.py:98,121
    "sketch_theta_setops": "1-row exact-count scalars",
    # 1-row grand-total moments + 1-row SSB scalar; relational15.py:286-294
    "stats_anova_dow": "1-row grand-total + SSB scalars",
    # 1-row observed-diff + bootstrap-bounds scalars; relational41.py:194
    "stats_bootstrap_ci_diff": "1-row observed/bounds scalars",
    # |langs| x |value-census| grid (census-bounded axes, never a row
    # pair join); relational48.py:97-100
    "stats_jonckheere_terpstra": "langs x value-census grid",
    # 1-row n_months/n_days count scalars; relational13.py:111,192
    "stats_kendall_tau": "1-row month/day-count scalars",
    # 1-row grand totals onto the source x ECDF-grid frame;
    # relational22.py:278-281
    "stats_ks_per_source": "1-row grand-total scalars",
    # 1-row rest-total nt scalar onto the grid; relational23.py:192-216
    "stats_ks_source_vs_rest": "1-row rest-total scalar",
    # 1-row grand-total + SSB scalars (Brown-Forsythe recentering);
    # relational18.py:164-172
    "stats_levene_bf": "1-row grand-total + SSB scalars",
    # 4x4 quarter-pair frame + 1-row n scalar; relational23.py:324-326
    "stats_nemenyi_quarters": "4x4 quarter pairs + 1-row n",
    # 1-row observed-stat + permutation-count scalars;
    # relational41.py:291-297
    "stats_randomization_test": "1-row observed/count scalars",
    # 1-row day-count scalar onto slope-pair stats; relational13.py:111
    "stats_theil_sen_trend": "1-row day-count scalar",
    # 7-row lag frame + 1-row moment scalars; relational19.py:85,103
    "timeseries_autocorr_daily": "7-row lags + 1-row moments",
    # --- r12 batch (bounds stated in each docstring) ---
    # 1-row pooled totals (n1/n2/N) crossed onto the price-cents census
    "stats_siegel_tukey": "1-row pooled totals onto census",
    "stats_lepage_test": "1-row pooled totals onto census",
    # 1-row pooled N onto the langs x n_chars-census grid
    "stats_ad_ksample": "1-row N onto census grid",
    # 1-row drift/variance scalars onto day-census difference frames
    "timeseries_variance_ratio": "1-row drift/moment scalars",
    # 1-row series mean + 1-row lag-product scalars onto the day census
    "timeseries_pacf_durbin_levinson": "1-row mean/lag-product scalars",
    # 1-row root-impurity base onto three bounded value censuses
    "ml_gini_feature_split": "1-row base onto bounded censuses",
    # 25x25 nation pair frame + 1-row n/precision-sum scalars
    "eval_ap_correlation": "25x25 nation pairs + 1-row scalars",
    # 1-row N/k totals onto the |sources|-row stratum census
    "sample_kish_deff": "1-row totals onto stratum census",
    # 1-row pooled-N scalar crossed onto census score cells + 1-row
    # variance/terms folds (normal-scores family, r12 batch 4)
    "stats_fligner_killeen": "1-row N + score-fold scalars",
    "stats_van_der_waerden": "1-row N + score-fold scalars",
    # 1-row series mean + 1-row lag-product scalars (day census)
    "timeseries_ljung_box": "1-row mean/lag-product scalars",
}


def open_domain_global_windows(plan: str) -> list[str]:
    """No-partition Window nodes whose nearest bounding node is an
    AGGREGATE grouped by an open-domain key (token/doc/user/free-text
    columns): the aggregate bounds rows to group cardinality, but the
    group domain itself scales with the corpus, so one task still sorts
    an unbounded frame at 100 TB. Returns the offending aggregate key
    snippets (report-only smell)."""
    nodes = _parse_tree(plan)
    hits = []
    for i, (d, txt) in enumerate(nodes):
        if not txt.startswith("Window "):
            continue
        j = i + 1
        exch = None
        while j < len(nodes) and nodes[j][0] > d:
            t = nodes[j][1]
            if t.startswith("Sort ") or t.startswith("AQEShuffleRead") or t.startswith(
                "ShuffleQueryStage"
            ) or t.startswith("Project "):
                j += 1
                continue
            if t.startswith("Exchange SinglePartition"):
                exch = j
            break
        if exch is None:
            continue
        ed = nodes[exch][0]
        for k in range(exch + 1, len(nodes)):
            kd, kt = nodes[k]
            if kd <= ed:
                break
            if _BOUNDING_RE.search(kt):
                agg = re.match(r"(HashAggregate|SortAggregate|ObjectHashAggregate)", kt)
                if agg:
                    keys = re.search(r"keys=\[([^\]]*)\]", kt)
                    if keys and _OPEN_DOMAIN_KEY_RE.search(keys.group(1)):
                        hits.append(keys.group(1)[:80])
                break  # nearest bounding node decides; stop either way
    return hits


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]

    from prometheus_clickhouselog_exporter_spark.workloads import QUERIES

    unknown = sorted(set(names) - set(QUERIES))
    if unknown:
        print(f"unknown query names: {unknown}")
        sys.exit(1)

    from prometheus_clickhouselog_exporter_spark.session import get_spark

    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    targets = names or sorted(QUERIES)
    flagged = 0
    violations = 0
    build_errors = 0
    skipped = []
    for name in targets:
        # *_fidelity queries EXECUTE a full Structured Streaming pipeline
        # at build time and return a collected local frame — auditing
        # that LocalTableScan is meaningless and costs a streaming run
        # each. Their streaming plans are covered by the golden suites.
        if name.endswith("_fidelity") and name not in names:
            skipped.append(name)
            continue
        try:
            group = f"plan-audit-{name}"
            spark.sparkContext.setJobGroup(group, f"plan_audit build: {name}")
            try:
                df = QUERIES[name](spark, sf_dir)
            finally:
                spark.sparkContext.setJobGroup(None, None)
            build_jobs = len(
                spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - reporting tool
            print(f"{name}: BUILD-ERROR {type(e).__name__}: {e}")
            build_errors += 1
            continue
        tables = Counter(
            m.group(1)
            for m in re.finditer(r"file:[^\]]*/(\w+)\.parquet", plan)
        )
        smells = []
        worst = max(tables.values(), default=0)
        if worst >= 3:
            smells.append(f"rescan x{worst}")
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            smells.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan:
            # broadcast-NL against a 1-row side is fine; flag only big sides
            if (
                plan.count("BroadcastNestedLoopJoin") > 1
                and name not in MULTI_BNLJ_OK
            ):
                smells.append("multi-BNLJ")
        if "BatchEvalPython" in plan:
            smells.append("row-python")
        gw = unbounded_global_windows(plan)
        if gw and name not in BOUNDED_GLOBAL_WINDOW_OK:
            smells.append(f"global-window-unbounded x{len(gw)}")
            violations += 1
        od = open_domain_global_windows(plan)
        if od and name not in OPEN_DOMAIN_WINDOW_OK:
            smells.append(f"open-domain-window x{len(od)} ({od[0]})")
        if build_jobs >= 10 and name not in BUILD_JOBS_OK:
            smells.append(f"build-jobs x{build_jobs}")
        scans = ",".join(f"{t}x{c}" for t, c in sorted(tables.items()) if c > 1)
        flag = " FLAG[" + ";".join(smells) + "]" if smells else ""
        if smells:
            flagged += 1
        bj = f" build-jobs={build_jobs}" if build_jobs else ""
        print(
            f"{name}: exch={plan.count('Exchange')} "
            f"rescans=({scans or '-'}){bj}{flag}"
        )
    print(
        f"# flagged: {flagged}/{len(targets)} (global-window violations: "
        f"{violations}; build errors: {build_errors}; {len(skipped)} "
        f"*_fidelity skipped — streaming executions, audited by their "
        f"golden suites)"
    )
    sys.exit(min(violations + build_errors, 125))


if __name__ == "__main__":
    main()
