"""The benchmark's workloads: fixed query lists, run in a seeded order.

Each list is the complete set of judged queries the workload times; the
seed only permutes the order within each pass. README.md gives the
reasons for each choice and what was left out.

  queries      the judged queries (keys of graft.SparkEntry.queries)
  min_execs    timed executions a run makes at least; 100 gives the p90
               latency ten samples beyond it
  min_passes   timed passes a run makes at least
  warm_passes  untimed first-touch passes before timing

Both lists are derived from the committed all-queries audit, by
`relational_from_audit` and `eager_from_audit`. Run this file to check
that the lists below still match it:

  python3 perfbench/workloads.py [AUDIT_JSONL]
"""
import json
import sys
from pathlib import Path

AUDIT = Path(__file__).resolve().parent / "results" / "audit_sf0.1.jsonl"
SQL_SURFACE = ("Core", "Functions", "Streaming")
FASTEST = 17
LARGE = 3
LARGE_ROWS = 50_000
# The queries whose operators reach a driverMax* gate, plus three with
# many construction-time jobs (q_bradley_terry, q_rfm, q_rec_eval).
ITERATIVE = """
q_aipw q_als q_als_recs q_ann_ivf q_ann_ivfpq q_ann_ivfpq_recall q_ann_ivfpq_res q_ann_pq
q_ann_pq_search q_closeness q_component_sizes q_cox_ph q_davies_bouldin q_dbscan
q_dedup_canonical q_dedup_clusters q_eigenvector q_gamma q_gesd q_gmm q_harmonic
q_harmonic_approx q_hits q_huber q_itemsets3 q_katz q_kmeans q_ktruss q_label_prop q_leiden
q_link_pred q_link_pred_jaccard q_logistic q_logistic2 q_logistic_multi q_louvain q_louvain2
q_markov_attribution q_pagerank q_pagerank_weighted q_poisson q_ppr q_psm_ate q_rec_eval_als
q_semdedup q_silhouette q_spectral q_temp_scaling q_textrank q_transitivity q_triangles
q_bradley_terry q_rfm q_rec_eval
""".split()
# The queries that write a table to disk and read it back.
PERSISTED = ["q_time_travel", "q_update_sql", "q_delete_sql", "q_schema_evolution",
             "q_schema_evolution2", "q_quantile_sketch"]
ITERATIVE_FASTEST = 4

WORKLOADS = {
    # The SQL surface (Core, Functions and Streaming), cut to fit 100 timed
    # executions a run: see relational_from_audit. Five timed passes give
    # the 100 executions.
    "relational": {
        "queries": [
            "q_array_funcs", "q_date_funcs", "q_distinct", "q_except", "q_filter_cmp",
            "q_funnel", "q_grouping_sets", "q_join_anti", "q_join_bloom",
            "q_join_cross", "q_join_inner", "q_join_nullsafe", "q_regex",
            "q_regexp_extract_all", "q_str_funcs", "q_string_agg", "q_udf_band",
            "q_union_all", "q_union_distinct", "q_unpivot",
        ],
        "min_execs": 100,
        "min_passes": 5,
        "warm_passes": 1,
    },
    # Queries that run Spark jobs while their DataFrame is built (driverMax*
    # gate counts, driver collects, checkpoints) plus one that writes a
    # table to disk and reads it back: see eager_from_audit.
    "eager": {
        "queries": [
            "q_cox_ph", "q_gesd", "q_gmm", "q_huber", "q_quantile_sketch",
        ],
        "min_execs": 0,
        "min_passes": 8,
        "warm_passes": 2,
    },
}


def _ok(audit):
    """The audit's records of queries that ran without error, fastest first."""
    recs = [json.loads(x) for x in Path(audit).read_text().splitlines()[1:]]
    return sorted((r for r in recs if not r["full_error"]), key=lambda r: (r["full_s"], r["query"]))


def relational_from_audit(audit=AUDIT):
    """The `relational` list, from the audit's full-result times.

    Of the SQL-surface queries that ran without error, ranked by full_s:
    the FASTEST fastest, plus the LARGE fastest of the rest whose full
    result has at least LARGE_ROWS rows, so that the collect path of a
    large result is timed too. Returned in name order.
    """
    ok = [r for r in _ok(audit) if r["module"] in SQL_SURFACE]
    large = [r for r in ok[FASTEST:] if r["full_rows"] >= LARGE_ROWS][:LARGE]
    return sorted(r["query"] for r in ok[:FASTEST] + large)


def eager_from_audit(audit=AUDIT):
    """The `eager` list, from the audit's full-result times.

    The ITERATIVE_FASTEST fastest of ITERATIVE, plus the fastest of
    PERSISTED, so that the tables/ write path is timed too. Returned in
    name order.
    """
    ok = _ok(audit)
    it = [r["query"] for r in ok if r["query"] in ITERATIVE][:ITERATIVE_FASTEST]
    return sorted(it + [r["query"] for r in ok if r["query"] in PERSISTED][:1])


if __name__ == "__main__":
    audit = sys.argv[1] if len(sys.argv) > 1 else AUDIT
    bad = []
    for name, derive in (("relational", relational_from_audit), ("eager", eager_from_audit)):
        derived = derive(audit)
        listed = sorted(WORKLOADS[name]["queries"])
        print(f"{name}: {' '.join(derived)}")
        if derived != listed:
            bad.append(f"{name} differs from the audit's derivation: "
                       f"listed only {sorted(set(listed) - set(derived))}, "
                       f"derived only {sorted(set(derived) - set(listed))}")
    if bad:
        sys.exit("\n".join(bad))
    print("both lists match the audit")
