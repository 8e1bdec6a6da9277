"""The two catalog workloads: HEADLINE catalog entries run by name.

Each timed operation is one entry as a user calls it: build the plan
with ``REGISTRY[name].spark(spark, data_dir)`` and execute it in full
into the ``noop`` sink. The loop is closed with one client: the next
entry starts when the previous one has finished. Passes go over the
workload's entries in an order shuffled by the workload seed.

Outputs are checked once, after the timed loop, against the entry's
DuckDB oracle (``ravelytics_spark.testing.compare``), or, for the two
entries without one, against the row count and digest pinned in
``pinned.json``.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import random
import statistics
import sys
import time

from datagen import catalog_row_counts, write_catalog_tables
from spans import merge, spark_metrics, union_length
from stats import geomean, tail

HERE = os.path.dirname(os.path.abspath(__file__))

# The 76 HEADLINE entries of bench.py, split by where their time goes.
# Relational: scans, joins, aggregates and windows whose time is Catalyst
# planning plus execution; building the plan only reads parquet schemas
# (one footer job per table read).
RELATIONAL = [
    "s11_scan_lineitem", "flagship_techno_stack", "g3_multikey_group", "j2_inner_join",
    "j1_left_join", "g1_argmax_latest", "w2_rank", "o1_topk", "t_window_daily",
    "a1_explode", "xj_asof_join", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier", "tpch_q7_volume_shipping", "tpch_q10_returned_items",
    "tpch_q18_large_volume", "tpch_q21_waiting_supplier", "x12_cube", "w8_sliding_window",
    "x104_equidepth_histogram", "x108_cms_heavy_hitters", "x111_rfm_segmentation",
    "x126_session_profile", "x129_cohort_ltv", "x141_penny_allocation",
    "x144_clamped_balance", "x164_capped_sessions", "x251_fifo_cost_basis",
    "x237_hurst_rs", "x283_abc_xyz_matrix", "x308_brown_forsythe",
    "x326_state_ttl_projection", "x339_dim_redundancy", "x357_file_skipping",
    "x360_join_cardinality",
]
# Operators: LLM-pipeline dedup, ANN and embeddings, graph fixpoints and
# text statistics, whose plan construction runs Spark jobs of its own
# (eager checkpoints, count probes, collected centroids).
OPERATORS = [
    "x2_minhash_lsh", "x10_curation_full", "x91_minhash_portable", "x100_curation_portable",
    "x150_winnow_dup_spans", "x227_winnow_capped", "x293_minhash_calibration",
    "x352_split_leakage", "x3_cosine_topk", "x48_ann_batch", "x96_grid_ivf_topk",
    "x342_ivf_portable", "x343_pq_portable", "x177_ann_recall_eval",
    "x230b_hubness_bucketed", "x245b_twonn_bucketed", "x43_pagerank", "x127_kcore_peel",
    "x172_bfs_hops", "x246_label_propagation", "x278_hits_scores", "x4_word_count",
    "x1_dedup_exact", "x4_repetition_score", "x16_bigram_topk", "x17_chunk_tokens",
    "x20_unigram_logprob", "x22_centroid_assign", "x31_window_dedup", "x30_rp_projection",
    "x40_dsir_weight", "x47_fuzzy_pairs", "x49_char_entropy", "x97_kmv_portable",
    "x102_srp_portable", "x117_bm25_scan", "x122_rrf_hybrid_search",
    "x143_qhist_portable", "x184_dup_cluster_sizes", "x353_doc_repetition",
]

# What one benchmark run times. A full pass over every entry above does
# not fit one run (76 entries take about 90 s warm at sf0.01 on 4 cores),
# so each workload times a fixed subset that keeps its character.
CORE = {
    "catalog_relational": [
        "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
        "tpch_q10_returned_items", "tpch_q18_large_volume", "x12_cube",
    ],
    "catalog_operators": [
        "x2_minhash_lsh", "x246_label_propagation", "x48_ann_batch", "x3_cosine_topk",
    ],
}
# Scale of the generated tables (lineitem = 6M x sf rows).
SCALE = {"catalog_relational": 0.02, "catalog_operators": 0.01}
DATA_SEED = 20240101  # the catalog data is fixed; the workload seed orders passes


def check_definitions(headline: list[str], registry) -> list[str]:
    """Problems with the workload definitions (empty = none)."""
    problems = []
    rel, ops = set(RELATIONAL), set(OPERATORS)
    if rel & ops:
        problems.append(f"in both workloads: {sorted(rel & ops)}")
    if rel | ops != set(headline) or len(RELATIONAL) + len(OPERATORS) != len(headline):
        problems.append(f"not a partition of HEADLINE: {sorted(set(headline) ^ (rel | ops))}")
    missing = [n for n in RELATIONAL + OPERATORS if n not in registry]
    if missing:
        problems.append(f"not in REGISTRY: {missing}")
    for wl, whole in (("catalog_relational", RELATIONAL), ("catalog_operators", OPERATORS)):
        if not set(CORE[wl]) <= set(whole):
            problems.append(f"{wl} core entries outside the workload: {sorted(set(CORE[wl]) - set(whole))}")
    return problems


def result_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive sha256 of a pandas result."""
    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps([repr(v) for v in row], ensure_ascii=False)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


class _Collected:
    """A result already collected to pandas, in the shape ``compare``
    reads, so the oracle comparison never re-runs the entry."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class CatalogWorkload:
    def __init__(self, name: str, seed: int, tmp: str):
        self.name = name
        self.names = list(CORE[name])
        self.sf = SCALE[name]
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(tmp, "tables")
        self.samples: dict[str, list[float]] = {n: [] for n in self.names}
        self.pass_walls: list[dict[str, float]] = []  # per pass: untraced entry walls
        self.last_pass_cut = False  # the deadline stopped the last pass early
        self.traced: list[dict] = []  # per traced operation: name and span walls
        self.outputs: dict[str, object] = {}  # entry -> pandas result or exception
        self.attempted = 0  # timed operations
        self.errors: list[str] = []  # timed operations that raised
        self.raw_bytes = 0

    # -- set-up ------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the tables and check their row counts before timing."""
        import pyarrow.parquet as pq

        raw = write_catalog_tables(self.data_dir, self.sf, DATA_SEED)
        self.raw_bytes = sum(raw.values())
        for table, rows in catalog_row_counts(self.sf).items():
            got = pq.ParquetFile(os.path.join(self.data_dir, f"{table}.parquet")).metadata.num_rows
            if got != rows:
                raise RuntimeError(f"generated {table} has {got} rows, expected {rows}")

    def warm(self, spark, registry) -> None:
        """One untimed pass that collects every entry's output, so JIT,
        codegen and plan caches are warm and ``check`` has the outputs."""
        for n in self.names:
            try:
                self.outputs[n] = registry[n].spark(spark, self.data_dir).toPandas()
            except Exception as exc:  # reported by check(); the run goes on
                self.outputs[n] = exc

    # -- timed loop --------------------------------------------------------
    def run(self, spark, registry, tracer, deadline: float, alternate: bool) -> int:
        """Closed loop of passes until ``deadline``; the first pass (with
        ``alternate``, the first two) always completes. With
        ``alternate``, every other pass is traced. Returns the number of
        passes started."""
        passes = 0
        while passes < 1 + alternate or time.perf_counter() < deadline:
            order = list(self.names)
            self.rng.shuffle(order)
            tracer.enabled = alternate and passes % 2 == 1
            gc.collect()  # the harness's own garbage, not the entries'
            walls, cut = {}, False
            for n in order:
                if passes >= 1 + alternate and time.perf_counter() >= deadline:
                    cut = True
                    break
                self.attempted += 1
                try:
                    if tracer.enabled:
                        self.traced.append(self._traced_op(spark, registry, tracer, n, passes))
                    else:
                        t0 = time.perf_counter()
                        df = registry[n].spark(spark, self.data_dir)
                        df.write.format("noop").mode("overwrite").save()
                        walls[n] = time.perf_counter() - t0
                except Exception as exc:  # counted as failed; the loop goes on
                    self.errors.append(f"{n}: {type(exc).__name__}: {exc}")
            self.pass_walls.append(walls)
            self.last_pass_cut = cut
            for n, dt in walls.items():
                self.samples[n].append(dt)
            passes += 1
        tracer.enabled = False
        return passes

    def _traced_op(self, spark, registry, tracer, n: str, k: int) -> dict:
        op = f"{n}#{k}"
        t0 = time.perf_counter()
        with tracer.span("query", op):
            with tracer.span("plans.build", op) as b:
                df = registry[n].spark(spark, self.data_dir)
            with tracer.span("spark.plan", op) as p:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            with tracer.span("spark.exec", op) as e:
                # The same noop sink as untraced operations; the sink plans
                # the query again, so this span includes that re-planning.
                df.write.format("noop").mode("overwrite").save()
        return {"name": n, "pass": k, "wall": time.perf_counter() - t0, "build": b, "plan": p, "exec": e}

    # -- correctness -------------------------------------------------------
    def check(self, spark, registry) -> tuple[int, list[str]]:
        """Compare the outputs collected by ``warm`` with each entry's
        reference. Returns (operations attempted, problems), counting the
        timed operations that raised as problems too."""
        from ravelytics_spark.testing import compare, duckdb_connection

        with open(os.path.join(HERE, "pinned.json")) as fh:
            pinned = json.load(fh)
        con = duckdb_connection(self.data_dir)
        problems = []
        for n in self.names:
            out = self.outputs[n]
            if isinstance(out, Exception):
                problems.append(f"{n}: {type(out).__name__}: {out}")
            elif registry[n].oracle is not None:
                problems += compare(_Collected(out), con, registry[n].oracle, n)[:1]
            else:
                rows, digest = result_digest(out)
                want = pinned.get(f"{n}@sf{self.sf}")
                if want != {"rows": rows, "sha256": digest}:
                    problems.append(f"{n}: rows={rows} sha256={digest}, pinned {want}")
        con.close()
        return self.attempted + len(self.names), self.errors + problems

    # -- metrics -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        meds = {n: statistics.median(v) for n, v in self.samples.items() if v}
        print(" ".join(f"{n}={m:.3f}" for n, m in meds.items()), file=sys.stderr)
        suite = sum(meds.values())
        on_disk = sum(
            os.path.getsize(os.path.join(self.data_dir, f)) for f in os.listdir(self.data_dir)
        )
        rows = sum(len(out) for out in self.outputs.values() if not isinstance(out, Exception))
        return {
            "suite_s": suite,
            "query_geomean_s": geomean(list(meds.values())),
            "interval_p50_s": statistics.median(meds.values()),
            # whole passes only, so every entry weighs the same in the tail
            "interval_tail_s": tail([dt for w in self.pass_walls[: -1 if self.last_pass_cut else None] for dt in w.values()]),
            "ingest_rows_per_s": rows / suite,
            "storage_ratio": on_disk / self.raw_bytes,
        }

    def per_layer(self, groups: dict, cores: int) -> dict[str, float]:
        """Layer metrics per pass, from the traced passes."""
        ops = self.traced
        per = len(ops) / len(self.names)
        build = [o["build"] for o in ops]
        exec_spans = [o["exec"] for o in ops]
        bstats = merge([groups[s.group] for s in build if s.group in groups])
        build_job_s = sum(
            union_length(groups[s.group].job_intervals, s.start, s.end)
            for s in build
            if s.group in groups
        )
        build_s = sum(s.wall for s in build)
        exec_wall = sum(s.wall for s in exec_spans)
        estats = merge([groups[s.group] for s in exec_spans if s.group in groups])
        # Each traced entry against the same entry in the untraced passes
        # on either side, so a drift over the run cancels out.
        ratios = []
        for o in ops:
            near = [w[o["name"]] for w in self.pass_walls[max(o["pass"] - 1, 0):o["pass"] + 2] if o["name"] in w]
            if near:
                ratios.append(o["wall"] / statistics.fmean(near))
        out = {
            "plans.build_s": build_s / per,
            "plans.build_jobs": bstats.jobs / per,
            "plans.build_job_s": build_job_s / per,
            "plans.build_self_s": (build_s - build_job_s) / per,
            "spark.plan_s": sum(o["plan"].wall for o in ops) / per,
            "spark.exec_s": exec_wall / per,
            "trace.overhead_frac": statistics.median(ratios) - 1.0,
        }
        out.update(spark_metrics(estats, exec_wall, cores, per))
        return out
