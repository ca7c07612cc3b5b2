"""sf10 scale point: the ratio-TREND evidence.

A single-box comparison at small SF measures fixed costs; the question
that matters for the 100 TB target is how the engine/DuckDB ratio MOVES
as data grows while hardware stays fixed. This publishes a third scale
point (sf0.1 -> sf1 -> sf10) for the queries whose sf1 ratios are
the most informative: a1 (scan+agg), j9 (fact⋈fact shuffle join), j14
(expansion range join, parquet-sink protocol), j8 (as-of vs native
ASOF), and — round 5 — the two text rows whose sf1 ratios were still
above 2x (l4_token_freq, l4_surprisal). If the plan shapes are
right, the engine curve should flatten RELATIVE to DuckDB as real work
swamps the per-query floor — that trend, not any single ratio, is the
scale-up evidence.

Data = deterministic 100x replication of the driver's sf0.1 testdata
(same key-shift scheme as scripts/bench_sf1.py, REPS=100: lineitem 60M
rows, orders 15M, events 10M at constant event-time density). Protocol
identical to bench_sf1.py (BASELINE.md §2+§3). Writes BENCH_SF10.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchdata", "sf10")
REPS = 100

def _rp(t: str) -> str:
    """read_parquet target for table t — glob when it's a multi-file dir."""
    path = os.path.join(DST, f"{t}.parquet")
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"

RUNS = 3
QUERIES = ["a1_groupby_q1", "j9_star_join", "j14_binned_interval_join", "j8_asof_join",
           # round 5 (VERDICT r04 #6): the two text rows still >2x at
           # sf1 (a1 crossed to 0.82x at sf10 already) — publish their
           # sf10 points so the floor/crossover claim is measured, not
           # extrapolated. documents is replicated 100x for these.
           "l4_token_freq", "l4_surprisal",
           # round 6 (VERDICT r5 #6): the dedup/ANN sf10 points. The
           # sf10 corpus is 100x EXACT replication, so pairwise-verify
           # dedup is quadratic in duplicate multiplicity by
           # construction: raw l2_containment_pairs has a measured
           # 10.4e9-row candidate bound here (its expansion spill
           # filled a 79 GB disk; the max_candidate_pairs guard now
           # computes that bound in ~95 s and fails loudly). The row
           # that goes on record is the SCALE-PATH operator —
           # collapse-first containment — compared against the same
           # collapse-first DuckDB plan. embeddings is replicated 100x
           # (vec_id shift; base copies keep ids 0..1999 so the
           # deterministic seeds/query rows are unchanged).
           "l2_containment_collapsed", "l2_dedup_clusters_collapsed",
           "l3i_ivf_pq_topk",
           # round 8 (VERDICT r7 #3): a22's sf10 point — the
           # histogram-selection structure is two fixed jobs over
           # model-sized driver state, so the ratio should amortize
           # toward 1x as real scan work swamps the stage-launch floor;
           # this row measures that claim instead of extrapolating it.
           "a22_equi_depth_histogram",
           # round 8 trend-table widening: three more rows whose sf1
           # ratios are floor-inflated (DuckDB side 0.14-1.1 s) but
           # whose sf10 DuckDB side does >=1 s of real work — measure
           # the crossover instead of asserting it. x23 = sweep-line
           # peak concurrency over 10M events; bm25 = full-corpus
           # scoring over 500k docs; repeated_ngrams = the n-gram
           # self-join family.
           "x23_max_concurrency", "l4_bm25", "l4_repeated_ngrams",
           # round-8 continuation: two more event-family rows where the
           # sf10 DuckDB side does >=1 s of real work. x9 is the
           # composite-(user, bucket) lookback re-key (the j14 lesson
           # applied to stream-join lookbacks — the plain user-keyed
           # join measured 83 s here); w8 is the per-user ordered
           # journey-path window family.
           "x9_interval_join", "w8_journey_paths",
           # round 9 (VERDICT r8 #1): the two round-8 percentile
           # rewrites (one-task window funnel -> distributed prefix
           # sum) shipped without a DuckDB twin at the scale that
           # motivated them — publish the ratio where both sides do
           # real work (engine sweep rows were 55 s / 40 s).
           "a25_weighted_median", "a9c_percentile_disc",
           # round 10: every remaining >=20s engine sweep row whose
           # DuckDB oracle COMPLETES at sf10 (probed one-shot before
           # admission, SCALE.md "Round-10 twin sweep" - the
           # in-process DuckDB side has no timeout, so DNF candidates
           # like g4's wedge oracle must not enter this list). Four of
           # these were first FIXED this round (batch scorer kernel,
           # ngram-novelty token-array hoist, tfidf dfreq-from-tf);
           # the rest are published as-is, work-bound.
           "j19_nearest_value_join",
           "l3_batch_topk", "l7_knn_classify", "l6_ngram_novelty",
           "l4_tfidf_topterms", "l4_crossdoc_ngram_share",
           "m11_basket_lift", "l7_kmeans_refine", "l7_cluster_purity",
           "g1_cooccurrence_graph", "g2_degree_centrality",
           "g3_pagerank", "g6_degree_assortativity"]
# g4/g5 are NOT protocol rows at sf10: DuckDB's wedge oracle DNFs a
# single 590 s run there (61 GB RSS when killed) while the engine's
# degree-oriented path sinks in 94/71 s — the asymmetry is recorded as
# noted rows in BENCH_SF10.json with sf1 twins (where DuckDB completes)
# measured by scripts/duck_g4_sf1-style one-shots.
LARGE_RESULT = {"j14_binned_interval_join",
                # round 10: 0.5-60M-row outputs — sink on both sides
                "l4_tfidf_topterms", "l4_crossdoc_ngram_share",
                "g1_cooccurrence_graph",
                "j19_nearest_value_join"}  # parquet sink on both (BASELINE.md §3.3)
# Construction does real engine work for these (localCheckpoint runs
# its job at call time on Spark 4.1 — the collapse shuffle would
# otherwise be excluded from the timed region): timer keeps
# construction inside, mirroring bench.py/bench_sf1.py EAGER_CONSTRUCT.
EAGER_CONSTRUCT = {"l2_containment_collapsed", "l2_dedup_clusters_collapsed",
                   "l4_bm25",
                   # round 9: the collapse-first histogram runs its
                   # collapse count (the only data-plane jobs besides
                   # the kernel) at construction
                   "a22_equi_depth_histogram",
                   # round 10 rows that collect model state (query
                   # vectors, centroids, node counts) or localCheckpoint
                   # at construction — that work belongs in the timed
                   # region (g1/g2 are pure-lazy plans, excluded)
                   "l3_batch_topk", "l7_knn_classify", "l6_ngram_novelty",
                   "l4_tfidf_topterms", "l4_crossdoc_ngram_share",
                   "m11_basket_lift", "l7_kmeans_refine",
                   "l7_cluster_purity", "g3_pagerank",
                   "g6_degree_assortativity"}  # checkpoint runs at construction (bench_sf1 note)


def generate() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
    con.execute("SET threads=8")

    def src(t):
        return f"read_parquet('{SRC}/{t}.parquet')"

    copies = {
        "lineitem": f"""
            SELECT l_orderkey + rep*10000000 AS l_orderkey, l_partkey, l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
                   l_returnflag, l_linestatus, l_shipdate
            FROM {src('lineitem')} CROSS JOIN range({REPS}) t(rep)""",
        "orders": f"""
            SELECT o_orderkey + rep*10000000 AS o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority
            FROM {src('orders')} CROSS JOIN range({REPS}) t(rep)""",
        "events": f"""
            WITH b AS (SELECT min(ts) AS mn, max(ts) AS mx FROM {src('events')})
            SELECT event_id + rep*10000000 AS event_id,
                   ts + rep * (mx - mn + INTERVAL 1 HOUR) AS ts,
                   user_id, event_type, value, props
            FROM {src('events')} CROSS JOIN range({REPS}) t(rep) CROSS JOIN b""",
    }
    # embeddings: 100x replication with shifted vec_ids (round 6 — the
    # ANN sf10 point). Base copy keeps vec_ids 0..N-1, so the
    # deterministic centroid seeds (vec_id < 8 / < 16) and the query
    # vector (vec_id = 0) are IDENTICAL rows in both engines; replicas
    # are exact duplicates, which is the realistic near-dup-heavy shape
    # for a crawl corpus and keeps every tie deterministic (id order).
    copies["embeddings"] = f"""
        SELECT vec_id + rep*10000000 AS vec_id, embedding, label
        FROM {src('embeddings')} CROSS JOIN range({REPS}) t(rep)"""
    for t in ["region", "nation", "customer", "supplier", "part"]:
        copies[t] = f"SELECT * FROM {src(t)}"
    for t, sql in copies.items():
        out = os.path.join(DST, f"{t}.parquet")
        if not os.path.exists(out):
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, COMPRESSION ZSTD)")
            print(f"generated {t}", file=sys.stderr)
    # documents: deterministic 8-file dir — single-file zstd text holds
    # the corpus in too few row groups to parallelize the scan; see
    # bench_sf1.generate and BASELINE.md §3.6.
    doc_dir = os.path.join(DST, "documents.parquet")
    if not os.path.isdir(doc_dir):
        os.makedirs(doc_dir, exist_ok=True)
        for i in range(8):
            con.execute(f"""COPY (
                SELECT doc_id + rep*1000000 AS doc_id, text, lang, source, n_chars
                FROM {src('documents')} CROSS JOIN range({REPS}) t(rep)
                WHERE (doc_id + rep*1000000) % 8 = {i})
                TO '{doc_dir}/part_{i}.parquet' (FORMAT PARQUET, COMPRESSION ZSTD)""")
        print("generated documents (8-file dir)", file=sys.stderr)
    con.close()


def median_time(fn) -> float:
    fn()
    return statistics.median(_timed(fn) for _ in range(RUNS))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    generate()

    # Subset-rerun mode (mirrors bench_sf1.py): named queries only,
    # merged into the existing BENCH_SF10.json.
    subset = [a for a in sys.argv[1:] if not a.startswith("-")]
    run_queries = [q for q in QUERIES if q in subset] if subset else QUERIES

    from kompactor_spark.queries import all_oracles, all_queries
    from kompactor_spark.session import get_spark

    spark = get_spark("bench-sf10")
    qs, oracles = all_queries(), all_oracles()
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()

    # global JIT warm-up (BASELINE.md §3.4)
    for name in run_queries:
        try:
            if name in LARGE_RESULT:
                qs[name](spark, DST).write.mode("overwrite").parquet(
                    os.path.join(DST, "_warm.parquet")
                )
            else:
                qs[name](spark, DST).toPandas()
        except Exception:
            pass

    results, errors = {}, {}
    for name in run_queries:
        try:
            if name in LARGE_RESULT:
                import shutil

                sink = os.path.join(DST, "_bench_sink_spark.parquet")

                def run() -> float:
                    if name in EAGER_CONSTRUCT:
                        t0 = time.perf_counter()
                        df = qs[name](spark, DST)  # construction does engine work
                    else:
                        df = qs[name](spark, DST)  # construction untimed
                        t0 = time.perf_counter()
                    df.write.mode("overwrite").parquet(sink)
                    dt = time.perf_counter() - t0
                    shutil.rmtree(sink, ignore_errors=True)
                    return dt

                run()
                eng = statistics.median(run() for _ in range(RUNS))
            else:

                def run() -> float:
                    if name in EAGER_CONSTRUCT:
                        t0 = time.perf_counter()
                        df = qs[name](spark, DST)  # construction does engine work
                    else:
                        df = qs[name](spark, DST)  # construction untimed
                        t0 = time.perf_counter()
                    assert len(df.toPandas()) >= 0
                    return time.perf_counter() - t0

                run()
                eng = statistics.median(run() for _ in range(RUNS))

            con = duckdb.connect()

            con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
            con.execute("SET threads=4")
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM {_rp(t)}"
                )
            if name in LARGE_RESULT:
                dsink = os.path.join(DST, "_bench_sink_duck.parquet")
                duck = median_time(
                    lambda: con.execute(f"COPY ({oracles[name]}) TO '{dsink}' (FORMAT PARQUET)")
                )
                if os.path.exists(dsink):
                    os.remove(dsink)
            else:
                duck = median_time(lambda: len(con.execute(oracles[name]).df()))
            con.close()
        except Exception as exc:
            errors[name] = repr(exc)
            print(f"{name}: FAILED {exc!r}", file=sys.stderr)
            continue
        results[name] = {
            "engine_sec": round(eng, 4),
            "duckdb_sec": round(duck, 4),
            "ratio": round(eng / duck, 2),
        }
        print(
            f"{name}: engine {eng:.3f}s duckdb {duck:.3f}s ratio {eng/duck:.2f}x",
            file=sys.stderr,
        )

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_SF10.json"
    )
    if subset and os.path.exists(out_path):
        with open(out_path) as fh:
            merged = json.load(fh).get("queries", {})
        merged.update(results)
        results = merged
    # standing row annotations (survive subset re-measures)
    notes = {
        "l2_containment_collapsed": (
            "round-8-continuation protocol-settled 9-run interleaved A/B: "
            "1.36 s vs 0.75 s = 1.82x on the sped-up kernel (worker body "
            "0.74->0.44 s) — under the 2x bar; engine median falls with "
            "scale. PLANS.md round 8 / BASELINE.md §5.2"
        ),
        "l2_dedup_clusters_collapsed": (
            "round-8-continuation protocol-settled A/B: 3.19 s vs 2.89 s "
            "= 1.10x; engine curve flat across the 10x growth "
            "(BASELINE.md §5.2)"
        ),
        "a25_weighted_median": (
            "round 9: collapse-first rewrite — per-(flag, price) weight "
            "sums (exact; the cw*2>=w pick is run-boundary-invariant) "
            "feed the distributed cumsum, shrinking its input from 60M "
            "rows to |distinct prices| (multiplicity-independent). "
            "Engine 55 s (r8 sweep) -> 1.31 s. The recorded DuckDB side "
            "(47.9 s) pays the row-wise 3-partition window the "
            "grading oracle states; against a collapse-first DuckDB "
            "twin (same plan, threads=4, median of 3: 2.04 s) the "
            "engine is still 0.64x"
        ),
        "a9c_percentile_disc": (
            "round 9: collapse-first rewrite — value-at-rank-r == min "
            "distinct value with inclusive cumulative count >= r, so "
            "the cumsum runs over |groups x distinct values| (150 "
            "cells) instead of 60M rows. Engine 40 s (r8 sweep) -> "
            "0.63 s vs DuckDB's native quantile_disc aggregate 3.90 s "
            "= 0.16x"
        ),
        "a22_equi_depth_histogram": (
            "round 9, settles the r8 two-window spread: the swing was the "
            "medium staging (wasted dispatch count + localCheckpoint "
            "block-store write, isolated in SCALE.md §7d addendum). "
            "Now collapse-first: (distinct value, count) cells -> one "
            "weighted Arrow kernel, no staging materialization. Settled "
            "same-window A/B 1.105 s vs 1.766 s; protocol row 0.69x "
            "(construction timed). High-cardinality falls back to the "
            "staged composed plan (localCheckpoint staging — beat "
            "rescan in every A/B)"
        ),
    }
    for k, note in notes.items():
        if k in results:
            results[k].setdefault("note", note)
    line = {
        "metric": "sf10_engine_vs_duckdb_median_sec",
        "value": round(sum(r["engine_sec"] for r in results.values()), 4),
        "unit": "sec",
        "queries": results,
        "sf": 10.0,
        "protocol": "bench_sf1.py protocol at REPS=100 (BASELINE.md §2+§3); ratio-trend evidence across sf0.1/sf1/sf10",
    }
    if errors:
        line["errors"] = errors
    with open(out_path, "w") as f:
        json.dump(line, f, indent=1)
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
