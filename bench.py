"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with a noop-sink write: unlike count(), which lets
Catalyst prune every non-key column and skip the projection work, the noop
sink executes the COMPLETE physical plan and discards rows executor-side
(no driver collect). A warmup pass on the smallest SF JIT-compiles codegen
paths so the measured pass reflects steady-state execution.
"""

from __future__ import annotations

import json
import os
import time

from etl_tj_project_spark import harness
from etl_tj_project_spark.session import get_spark

HEADLINE = [
    "p1_typed_projection",
    "p5_conjunctive_predicate",
    "j1_inner_join_fanout",
    "j2_left_join_code_to_name",
    "u1_union_all",
    "a1_agg_by_card",
    "a2_agg_nullable_group_keys",
    "a3_agg_by_tariff",
    "u2_two_branch_union_agg",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5ish_regional_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q13_order_count_distribution",
    "w1_topk_per_group",
    "w2_running_sum",
    "sort_limit_topk",
    "rollup_agg",
    # Extended TPC-H pack: the most expensive multi-join / correlated /
    # disjunctive plans — the bench must cover the worst plans, not just
    # the pretty ones.
    "tpch_q7_volume_shipping",
    "tpch_q9ish_product_profit",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_predicates",
    "tpch_q21ish_lone_late_supplier",
    # Training-data-pipeline ops — the engine's extension surface belongs
    # in the headline number, not just correctness checks.
    "dedup_exact",
    "dedup_minhash_lsh",
    # The two most iterative/expensive extension plans — previously
    # unbenched (VERDICT r2 #3): label-propagation connected components
    # over the LSH graph, and trained (distributed-Lloyd) IVF ANN.
    "dedup_connected_components",
    "ann_ivf_trained_topk",
    "text_quality",
    "ann_brute_force_topk",
    "corpus_top_terms",
    "sessionize",
    "json_agg_by_field",
    "stream_window_agg",
    "skewed_window_two_phase",
    # Round-5 additions: the third iterative ANN path (PQ — trained
    # codebooks + ADC scan + rerank, the heaviest new plan), one
    # corpus-derived text signal (two token shuffles + broadcast), and
    # the bounded sliding window frame.
    "ann_pq_trained_topk",
    "text_corpus_stopword_fraction",
    "moving_agg_rows_frame",
    # Round-5 wave 2: the graph family's heaviest plan (degree-oriented
    # triangle counting), the daily incremental dedup probe, and the
    # sliding-distinct KPI.
    "graph_triangle_count",
    "dedup_incremental_lsh_candidates",
    "wau_rolling_distinct",
    # Round-9 addition: paragraph-level exact dedup with document
    # reassembly — a 12x row explode, a hash-keyed first-occurrence
    # shuffle, and a collect_list reassembly in one plan; the heaviest
    # new text-pipeline shape this round. (Round-over-round totals:
    # compare the shared cohort, as prior rounds did for r5 additions.)
    "dedup_paragraph_chunks",
    # Round-11 additions: the total-order sorted-export assignment law
    # (range bucketing + partitioned rank + NTILE arithmetic), the
    # fastText-style classifier inference (hashed n-gram explode +
    # broadcast weight join), and C4-style cross-document boilerplate
    # removal (chunk explode + distinct-doc frequency + reassembly).
    # (Round-over-round totals: compare the shared cohort, as before.)
    "sorted_export_ntile_ranges",
    "quality_classifier_inference",
    "boilerplate_chunk_removal",
    # Round-12 additions: the Spark-4 recursive CTE (UnionLoop — an
    # iterative operator the optimizer owns, unlike the hand-unrolled
    # khop), the declarative LATERAL top-k, the prefix-filtered
    # containment self-join (A-prefix x B-full postings), shuffle-free
    # overlapping chunking, the window-only CUSUM, and the Matryoshka
    # truncation audit (two ranking windows over a broadcast query set).
    # (Round-over-round totals: compare the shared cohort, as before.)
    "recursive_cte_tree_depth",
    "lateral_correlated_topk",
    "dedup_containment_ngram",
    "chunk_documents_overlap",
    "cusum_changepoint_daily",
    "embedding_matryoshka_prefix_recall",
    # Round-14 additions (VERDICT r12 item 4, carried): the five
    # heaviest never-benched registry plans — 13-gram benchmark
    # decontamination (two staged tokenizations + distinct n-gram
    # anti-join), within-doc repeated-span compression, the
    # prefix-filtered Jaccard self-join (PPJoin candidate pruning),
    # the k-NN JOIN (every probe against every bucketed base — the
    # all-rows ANN shape), and SCD2 MERGE-style change application
    # (change-set join + validity re-windowing).
    # (Round-over-round totals: compare the shared cohort, as before.)
    "decontaminate_13gram",
    "dedup_repeated_ngram_spans",
    "dedup_prefix_filter_jaccard",
    "ann_knn_join_topk",
    "scd2_apply_changes",
    # Round-15 additions: the two canonicalize-first guardrail
    # compositions (SCALE.md §27) — the production answers to the §26
    # outliers, so their constants (LSH -> CC -> survivor window ->
    # pairwise/graph stage) must be measured every round, not just the
    # direct joins they replace.
    # (Round-over-round totals: compare the shared cohort, as before.)
    "dedup_jaccard_canonical",
    "graph_triangle_count_canonical",
    # Round-16 additions: the residual-LCC statistic (VERDICT r15 item
    # 3 — driver-green in r15 but never benched; shares the triangle
    # guardrail's wedge machinery plus a per-node aggregation) and the
    # LCC-driven second dedup pass it motivates (the round's new
    # operator — manifest + LCC + high-high-edge CC end-to-end).
    # (Round-over-round totals: compare the shared cohort, as before.)
    "graph_residual_clustering_coefficient",
    "dedup_lcc_second_pass",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    calib_pre = _cpu_calibration()
    # Ambient-steal gate (round 9, hardening VERDICT r8 item 3): the r9
    # validation run caught the shared VM at 3x parallel steal BEFORE
    # Spark even started (calib_par_pre 0.246 vs the 0.079 recorded
    # anchor and 0.08 measured idle minutes later) — a post-hoc retry
    # pass cannot fix a run whose whole window is contended. So when
    # the pre-run anchor says the host is badly stolen (>1.5x the last
    # recorded round), WAIT it out in bounded 45 s steps (<= 4, ~3 min
    # worst case) and keep the best observed anchor; if it never
    # recovers, run anyway and let the record show the conditions.
    calib_par_pre = _cpu_calibration_parallel()
    prev_par_gate = _prev_recorded_parallel_calib()
    steal_waits = 0
    if prev_par_gate:
        import time as _t

        while (
            calib_par_pre > 1.5 * prev_par_gate and steal_waits < 4
        ):
            _t.sleep(45)
            steal_waits += 1
            calib_par_pre = min(calib_par_pre, _cpu_calibration_parallel())
    spark = get_spark("etl_tj_bench")

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    names = [n for n in HEADLINE if n in harness.REGISTRY]
    # Warmup: run the set once at the smoke SF to JIT/codegen-compile.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for n in names:
            try:
                force(harness.REGISTRY[n].spark(spark, warm_dir))
            except Exception:
                pass

    # Per-query contention defense (VERDICT r11 item 2): BENCH_r11's
    # headline total recorded 1.34x under BURSTY steal — the pre-run
    # steal gate and the whole-pass drift retry both missed it because
    # the theft came and went between their checkpoints (the bench's
    # own telemetry showed steal_gate_waits=4 and a strain row 16x
    # slower on pass1 than pass2, while untouched queries "regressed"
    # 1.3-1.7x). So the strain rows' bracketed-retry now applies to
    # EVERY headline query: each query is bracketed by a lightweight
    # all-cores probe (2 reps, ~0.1 s — chained, so one probe per
    # query); when either side of a query's bracket reads >30% above
    # the run's best-observed anchor, that query's window was contended
    # — it is re-timed once and the faster number kept, with the
    # bracket + both timings recorded per query so a kept-slow number
    # is annotated, never silent. Threshold calibration: the 2-rep
    # probe jitters ~16% on an idle box with a warm Spark JVM (sf0.001
    # probe run: 19/46 spurious flags at the strain rows' 1.15x, every
    # retry within noise of the bracketed pass), while the bursty-steal
    # events this defends against read 1.5-3x (r9 strain: 16.7 vs
    # 4.9 s; r11 lsh: 18.4 vs 1.1 s) — 1.30x separates the two cleanly.
    run_anchor = calib_par_pre

    # Best-of-2 per query: local wall-clock has ±10% run-to-run noise
    # (GC, page cache); the minimum is the steady-state number and keeps
    # round-over-round comparisons meaningful.
    # Shared-artifact cold/warm accounting (ADVICE r16): the guardrail
    # family's memoized artifacts (shared_family_manifest /
    # shared_residual_pairs) make per-query timings order-dependent —
    # only the first consumer pays the artifact compute. Snapshot the
    # memo's event log around each timed query and flag it cold
    # (paid a memo miss) or warm (FileScan only) so cross-round
    # per-query comparisons can condition on who paid.
    from etl_tj_project_spark import harness_r12 as _hr12

    def timing_pass() -> tuple[dict[str, float], dict[str, dict], dict[str, dict]]:
        nonlocal run_anchor
        out: dict[str, float] = {}
        notes: dict[str, dict] = {}
        flags: dict[str, dict] = {}
        pre = _cpu_probe_parallel()
        run_anchor = min(run_anchor, pre)
        for n in names:
            best = float("inf")
            ev0 = len(_hr12.ARTIFACT_EVENTS)
            for _ in range(2):
                t0 = time.perf_counter()
                force(harness.REGISTRY[n].spark(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            events = _hr12.ARTIFACT_EVENTS[ev0:]
            if events:
                flags[n] = {
                    "state": (
                        "cold"
                        if any(kind == "miss" for _, kind in events)
                        else "warm"
                    ),
                    "events": [f"{a}:{kind}" for a, kind in events],
                }
            post = _cpu_probe_parallel()
            run_anchor = min(run_anchor, post)
            # Tighter bracket for the sub-second cohort (VERDICT r17
            # item 4): r17's driver run printed 2x floors on four
            # untouched fast queries (q7/q9/q18/rollup) because a
            # moderately contended window (bracket ~1.1-1.3x anchor)
            # inflates a 0.7 s query to 1.5 s without ever tripping the
            # 1.30x bracket. For queries under 2.5 s a retry costs
            # ~nothing, so they re-time at 1.15x (the strain rows'
            # threshold); a spurious flag only adds one cheap rep — the
            # kept number is always the minimum. Only STRONG (>1.30x)
            # flags count toward the full-pass rerun trigger, so the
            # tighter bracket cannot force a pass2 by itself.
            thr = 1.30 if best >= 2.5 else 1.15
            if max(pre, post) > thr * run_anchor:
                t0 = time.perf_counter()
                force(harness.REGISTRY[n].spark(spark, sf_dir))
                retry = time.perf_counter() - t0
                notes[n] = {
                    "bracket": [pre, post],
                    "threshold": thr,
                    "strong": max(pre, post) > 1.30 * run_anchor,
                    "sec_bracketed": round(best, 4),
                    "sec_retry": round(retry, 4),
                    "kept": "retry" if retry < best else "bracketed",
                }
                best = min(best, retry)
            out[n] = round(best, 4)
            pre = post  # chain: this query's post is the next one's pre
        return out, notes, flags

    timings, contention_notes, artifact_flags = timing_pass()
    total = round(sum(timings.values()), 4)

    # Calibration-drift response (VERDICT r8 item 3): round 8's recorded
    # headline ran 15% high under an 11%-slower parallel-calibration
    # anchor — real numbers, wrong conditions, and the record kept the
    # bad run. Now the drift check is CODE: if the all-cores anchor
    # right after the first pass deviates >10% from the newest
    # driver-recorded round's value, the host is contended — re-run the
    # headline pass once and keep the better (lower-total) pass. Both
    # totals are recorded so the retry is visible, not silent.
    prev_par = _prev_recorded_parallel_calib()
    calib_par_mid = _cpu_calibration_parallel()
    drift_vs_prev = (
        round(abs(calib_par_mid - prev_par) / prev_par, 4) if prev_par else None
    )
    total_pass1, total_pass2 = total, None
    # Second trigger (VERDICT r14 item 6): r14's record kept pass1
    # despite 13 per-query contended retries, because calib drift
    # (0.0216) sat under the 0.10 rerun threshold while SUSTAINED
    # ambient load inflated every wall ~1.5x — the mid-run calibration
    # just measured the same loaded host as the previous round's. A
    # pass where more than 8 of the ~57 query brackets flagged
    # contention is a contended pass regardless of what the anchor
    # drift says, so it now forces the full-pass rerun too (the lower
    # total still wins, so a pass2 under the same load can't make the
    # record worse).
    rerun_trigger = None
    if prev_par is not None and drift_vs_prev > 0.10:
        rerun_trigger = "calib_drift"
    elif sum(
        1 for v in contention_notes.values() if v.get("strong", True)
    ) > 8:
        # Only strong (>1.30x) flags count here: the r18 sub-second
        # 1.15x bracket flags on idle-host jitter too, and those cheap
        # re-times must not be able to force a full second pass.
        rerun_trigger = "contended_retries"
    if rerun_trigger is not None:
        timings2, notes2, flags2 = timing_pass()
        total_pass2 = round(sum(timings2.values()), 4)
        if total_pass2 < total:
            timings, total = timings2, total_pass2
            contention_notes = notes2
            artifact_flags = flags2

    # Strain section (VERDICT r7 item 1): the size dispatch means the
    # distributed strategies — the ONLY code that runs at 100 TB — no
    # longer execute in the headline queries at sf0.1. Run them here on
    # deterministic derived expansions that genuinely cross both
    # dispatch budgets (>16M symmetrized edges, >4M vector elements),
    # so their constants are measured every round instead of regressing
    # invisibly. Each runner asserts the budget was crossed AND answer
    # equality vs the local strategy (CC: FULL-graph labels through a
    # distributed join; trainers: centroid/codebook agreement within
    # 1e-6) — sec_* keys split the distributed wall-clock from the
    # equality pass, which doubles as a local-vs-distributed A/B on the
    # same data. Single-shot (not best-of-2): the strain ops are the
    # bench's heaviest and their round-over-round comparison leans on
    # the calibration anchors like everything else. Kept OUT of the
    # headline total so `value` stays comparable across rounds.
    from etl_tj_project_spark import strain as strain_mod

    # Per-strain-row contention defense (VERDICT r9 item 3): BENCH_r09's
    # official strain rows ran once and mid-run steal went unhandled —
    # recorded ivf 16.7 s vs the same session's clean 4.9 s (3.4x). The
    # headline's steal gate is pre-run-only and its drift retry
    # headline-only, so each strain row now gets its own defense:
    # bracket the row with the all-cores anchor; if either side reads
    # >15% above this run's best observed anchor, the row's window was
    # contended — retry ONCE and keep the faster pass. Both passes and
    # the anchors land in the full record, so a kept-slow row is
    # annotated, never silent. (Gating on the PREVIOUS round's strain
    # values would inherit r9's taint, so the reference is always the
    # current run's own clean anchor.) The anchor TIGHTENS as brackets
    # are observed (ADVICE r10): if pre+mid calibrations were both
    # contended (the steal gate waits at most 4 times, then proceeds),
    # a frozen min(pre, mid) inflates the 1.15x threshold for the whole
    # strain section; folding every bracket reading into the running
    # min means later rows always compare against the best anchor seen
    # anywhere in the run.
    run_anchor = min(run_anchor, calib_par_mid)

    def _first_sec(row: dict) -> float | None:
        return next(
            (v for k, v in row.items()
             if k.startswith("sec_") and isinstance(v, (int, float))),
            None,
        )

    def run_strain_row(key: str, runner) -> dict:
        nonlocal run_anchor
        pre = _cpu_calibration_parallel()
        run_anchor = min(run_anchor, pre)
        try:
            row = runner(spark, sf_dir)
        except Exception as exc:  # a failed strain run must be VISIBLE
            return {"error": f"{type(exc).__name__}: {exc}"}
        post = _cpu_calibration_parallel()
        run_anchor = min(run_anchor, post)
        contended = max(pre, post) > 1.15 * run_anchor
        row["calib_par_bracket"] = [pre, post]
        if contended:
            sec1 = _first_sec(row)
            try:
                row2 = runner(spark, sf_dir)
            except Exception as exc:
                row["strain_retry"] = f"retry failed: {type(exc).__name__}"
                return row
            post2 = _cpu_calibration_parallel()
            run_anchor = min(run_anchor, post2)
            row2["calib_par_bracket"] = [post, post2]
            sec2 = _first_sec(row2)
            if sec1 is not None and sec2 is not None and sec2 < sec1:
                row2["strain_retry"] = {
                    "kept": "pass2", "sec_pass1": sec1, "sec_pass2": sec2,
                }
                return row2
            row["strain_retry"] = {
                "kept": "pass1", "sec_pass1": sec1, "sec_pass2": sec2,
            }
        return row

    strain_out: dict[str, dict] = {}
    for key, runner in (
        ("cc_distributed", strain_mod.run_cc_strain),
        ("ivf_distributed", strain_mod.run_ivf_strain),
        ("pq_distributed", strain_mod.run_pq_strain),
        # The flagship write path end-to-end (VERDICT r7 item 8): raw
        # strings -> typed -> union -> 3 aggregates -> atomic partition
        # commit, INCLUDING the parquet sink the noop-forced headline
        # queries deliberately skip.
        ("daily_pipeline_e2e", strain_mod.run_daily_pipeline_strain),
        # Real Structured-Streaming drain: micro-batches + state store +
        # exactly-once group-granular sink, equality-pinned to the batch
        # twin — the headline's stream_window_agg measures the query
        # SHAPE; this measures the streaming RUNTIME. 1M events
        # (inflate=10): at 100k a single-trigger drain is ~80% fixed
        # startup cost and the recorded rows/s said nothing about
        # throughput (SCALE.md §23 sweep — 12-14k rows/s at 100k vs
        # ~200k rows/s at 1M under the same one-trigger regime).
        ("streaming_drain", lambda s, d: strain_mod.run_streaming_strain(
            s, d, inflate=10)),
        # Band-join under boilerplate skew: 8 identical replicas per
        # doc, exact within-family completeness asserted (C(8,2) per
        # family), ~3.8M candidate pairs at sf0.1.
        ("lsh_skew", strain_mod.run_lsh_strain),
        # Round-12 flagship dedup op at constant dup rate: 4x Caesar-
        # rotated corpus (SCALE.md §25 isolation), exact per-copy
        # completeness floor (total == 4 * base pairs, zero cross-copy
        # pairs — containment runs on true shingle strings, so the
        # floor is deterministic, not probabilistic).
        ("containment_rate", strain_mod.run_containment_strain),
        # The §25b guardrail made executable (VERDICT r12 item 3):
        # 4x exact-copy corpus; canonicalize-first must cut the
        # containment candidate-join input >= 16x (replicas^2, exact
        # by the copy-lift argument) with the final pair set IDENTICAL
        # to the base corpus's canonical-first run.
        ("containment_guardrail",
         strain_mod.run_containment_guardrail_strain),
        # Cold-storage A/B of the flagship's default vs single-scan
        # plans (VERDICT r8 item 4): two distinct inflated lineitem
        # copies + page-cache eviction so BOTH default scans pay cold
        # IO, the regime where the 5-vs-8-column single scan should win.
        ("u2_cold_io", strain_mod.run_u2_cold_io_strain),
    ):
        strain_out[key] = run_strain_row(key, runner)

    # Host-speed anchor: round 3 proved the shared VM drifts (identical
    # code measured 1.45× slower across rounds — SCALE.md §13). The fixed
    # CPU workload runs BEFORE and AFTER the query loop so within-run
    # drift is bounded too; query_time / cpu_calib_sec is comparable
    # across hosts, raw seconds are not. (Multi-core anchor rationale —
    # VERDICT r6: ambient load on the shared VM steals PARALLEL
    # throughput first, so shuffle-heavy drift normalizes by
    # cpu_calib_parallel_sec, single-thread drift by cpu_calib_sec.)
    calib_post = _cpu_calibration()
    calib_par_post = _cpu_calibration_parallel()
    calib = round((calib_pre + calib_post) / 2, 4)
    calib_par = round((calib_par_pre + calib_par_post) / 2, 4)

    # Output framing (VERDICT r8 item 1): round 8 put the full strain
    # section INSIDE the single headline line, pushing it past the
    # driver's 2000-char tail capture — BENCH_r08.json recorded
    # "parsed": null and the round lost its official headline total.
    # Now three outputs, least- to most-important so the tail keeps the
    # critical one: (1) the COMPLETE record (full-precision strain,
    # pre/post calib splits, both drift-retry passes) written to
    # BENCH_FULL_LATEST.json next to this script; (2) the full strain
    # detail as its own stdout line (may be clipped by the tail window —
    # the file has it all); (3) the headline object as the FINAL compact
    # line, carrying a six-row strain summary (one wall-clock per strain
    # op) so the driver record still proves the distributed paths ran.
    # A length guard keeps line (3) under the tail window with margin.
    strain_sec = {}
    for key, short in (
        ("cc_distributed", "cc"),
        ("ivf_distributed", "ivf"),
        ("pq_distributed", "pq"),
        ("daily_pipeline_e2e", "daily"),
        ("streaming_drain", "stream"),
        ("lsh_skew", "lsh"),
        ("containment_rate", "containment"),
        ("u2_cold_io", "u2cold"),
    ):
        row = strain_out.get(key, {})
        sec = next(
            (v for k, v in row.items() if k.startswith("sec_")), None
        )
        strain_sec[short] = (
            round(sec, 1) if isinstance(sec, (int, float)) else "ERR"
        )

    headline = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpu_calib_sec": calib,
        "cpu_calib_parallel_sec": calib_par,
        # total in "calibration units": raw seconds divided by the
        # host-speed anchor — the cross-round comparable number
        # (r3: 41.737/0.0655=637; r4: 723; r7: 26.72/0.0486=550).
        "calib_normalized_total": round(total / calib, 1),
        "strain_sec": strain_sec,
        "calib_par_drift_vs_prev": drift_vs_prev,
        "drift_rerun": total_pass2 is not None,
        "rerun_trigger": rerun_trigger,
        "value_pass1": total_pass1,
        "value_pass2": total_pass2,
        # Count of headline queries whose bracket flagged contention
        # (full per-query brackets + both timings in the full record).
        "contended_retries": len(contention_notes),
    }

    # Per-query figures in "calibration units" (VERDICT r15 item 6):
    # raw wall / single-thread calibration anchor — the cross-round
    # comparable number per query, not just in total. Two rounds of
    # 1.6-1.8x ambient shift made raw per-query floors unusable for
    # regression detection; these are host-speed-normalized. The map
    # cannot ride the FINAL driver-parsed line (61 names would double
    # it past the 2000-char tail), so it is committed in
    # BENCH_FULL_LATEST.json and printed as its own stdout line below.
    queries_calib_units = {
        k: round(v / calib, 1) for k, v in timings.items()
    }

    full = dict(headline)
    full.update(
        {
            "queries_calib_units": queries_calib_units,
            # Who paid the shared-artifact compute (ADVICE r16): per
            # guardrail query, "cold" = this timing includes a memo
            # miss (artifact computed + written), "warm" = artifact
            # served as a parquet FileScan. Reflects the KEPT pass.
            "artifact_flags": artifact_flags,
            "contended_queries": contention_notes,
            "strain": strain_out,
            "cpu_calib_sec_pre": calib_pre,
            "cpu_calib_sec_post": calib_post,
            "cpu_calib_parallel_sec_pre": calib_par_pre,
            "cpu_calib_parallel_sec_post": calib_par_post,
            "prev_recorded_parallel_calib": prev_par,
            "steal_gate_waits": steal_waits,
        }
    )
    try:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LATEST.json"
        )
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        pass  # a read-only checkout must not kill the stdout record

    print(json.dumps({"metric": "strain_detail", "strain": strain_out}))
    print(
        json.dumps(
            {
                "metric": "queries_calib_units",
                "cpu_calib_sec": calib,
                "queries": queries_calib_units,
            },
            separators=(",", ":"),
        )
    )

    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1700:  # 2000-char tail minus margin for trailing noise
        headline["queries"] = {k: round(v, 2) for k, v in timings.items()}
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1700:
        headline.pop("strain_sec", None)
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1700:
        # Rung 3 (round 12, headline grew to 52 queries): the driver
        # parses only the LAST ~2000-char line, so shed the diagnostic
        # fields from THAT line — they are still printed just above on
        # their own JSON line (and live in BENCH_FULL_LATEST.json); the
        # driver-recorded object keeps the contract core (metric,
        # value, unit, queries, sf). Worst-case core length with the
        # round-14 57-name cohort is 1838 — under the 2000-char driver
        # tail because the core line is this process's FINAL stdout
        # write (printed after spark.stop(), so no shutdown chatter can
        # trail it); the driver-tail guard test pins worst-case <= 1950
        # and fails the suite before a name push overflows the tail.
        diags = {
            k: headline.pop(k)
            for k in list(headline)
            if k not in ("metric", "value", "unit", "queries", "sf")
        }
        print(
            json.dumps(
                {"metric": "headline_diagnostics", **diags},
                separators=(",", ":"),
            ),
            flush=True,
        )
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1950:
        # Rung 4 (round 16, 61-name cohort) gates at the REAL tail
        # budget (1950), not the earlier rungs' conservative 1700: the
        # normal post-shedding regime is 1700-1950 chars (r15 recorded
        # 1843) and must keep 2-decimal precision — the sf0.001 smoke
        # proved a 1700 gate here zeroes every sub-second query.
        # Integer seconds recover >= 2 chars/name only at worst-case
        # numeric widths (every query ~100 s pushes the core to 1985;
        # ints bring it to ~1863 <= 1950). Full precision always lives
        # in BENCH_FULL_LATEST.json.
        headline["queries"] = {k: int(round(v)) for k, v in timings.items()}
        line = json.dumps(headline, separators=(",", ":"))
    import sys

    sys.stdout.flush()
    # The contract line is this process's FINAL stdout write and the
    # only thing the driver parses; printing it in a finally means a
    # spark.stop() that raises can no longer eat the whole run's
    # record (ADVICE r14 — the traceback goes to stderr, stdout still
    # ends with the contract line). A lost JVM connection at teardown
    # is logged and ignored (BENCH_r17 exited rc=1 on a
    # ConnectionRefusedError from spark.stop() after the JVM had already
    # exited, with every measurement printed). Any other teardown error
    # still propagates and sets a nonzero exit.
    from py4j.protocol import Py4JError

    try:
        spark.stop()
    except (ConnectionError, Py4JError) as exc:
        import traceback

        print(
            f"bench teardown ignored: {type(exc).__name__}: {exc}",
            file=sys.stderr,
        )
        traceback.print_exc(file=sys.stderr)
    finally:
        print(line, flush=True)


def _prev_recorded_parallel_calib() -> float | None:
    """The newest driver-recorded round's cpu_calib_parallel_sec (from
    BENCH_r*.json next to this script, highest round with a non-null
    parsed record) — the cross-round reference for the drift check."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best_n, best_val = -1, None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        parsed = rec.get("parsed") or {}
        val = parsed.get("cpu_calib_parallel_sec")
        if isinstance(val, (int, float)) and int(m.group(1)) > best_n:
            best_n, best_val = int(m.group(1)), float(val)
    return best_val


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread workload (sha256 over 64 MB of
    deterministic bytes, best of 3) — a machine-speed yardstick."""
    import hashlib
    import time as _t

    block = bytes(range(256)) * 4096  # 1 MiB
    best = float("inf")
    for _ in range(3):
        t0 = _t.perf_counter()
        h = hashlib.sha256()
        for _i in range(64):
            h.update(block)
        h.hexdigest()
        best = min(best, _t.perf_counter() - t0)
    return round(best, 4)


def _cpu_probe_parallel() -> float:
    """Lightweight 2-rep variant of :func:`_cpu_calibration_parallel`
    for the per-query headline brackets: one probe per query must cost
    ~0.1 s, not the full 3-rep calibration. A noisy probe only costs a
    spurious single re-time (annotated), never a wrong kept number —
    the kept value is always the minimum over all observed timings."""
    import hashlib
    import os as _os
    import time as _t
    from concurrent.futures import ThreadPoolExecutor

    block = bytes(range(256)) * 4096  # 1 MiB
    ncpu = _os.cpu_count() or 1

    def work(_: int) -> None:
        h = hashlib.sha256()
        for _i in range(64):
            h.update(block)
        h.hexdigest()

    best = float("inf")
    with ThreadPoolExecutor(max_workers=ncpu) as pool:
        for _ in range(2):
            t0 = _t.perf_counter()
            list(pool.map(work, range(ncpu)))
            best = min(best, _t.perf_counter() - t0)
    return round(best, 4)


def _cpu_calibration_parallel() -> float:
    """Seconds for the same sha256 workload run simultaneously on every
    core (one thread per CPU, each hashing 64 MB; sha256 releases the
    GIL so threads scale) — an ALL-CORES machine-speed yardstick.
    Ambient load on a shared host inflates this anchor while leaving
    the single-thread one flat, which is exactly the failure mode that
    made round-6 drift on shuffle-heavy queries unfalsifiable."""
    import hashlib
    import os as _os
    import time as _t
    from concurrent.futures import ThreadPoolExecutor

    block = bytes(range(256)) * 4096  # 1 MiB
    ncpu = _os.cpu_count() or 1

    def work(_: int) -> None:
        h = hashlib.sha256()
        for _i in range(64):
            h.update(block)
        h.hexdigest()

    best = float("inf")
    with ThreadPoolExecutor(max_workers=ncpu) as pool:
        for _ in range(3):
            t0 = _t.perf_counter()
            list(pool.map(work, range(ncpu)))
            best = min(best, _t.perf_counter() - t0)
    return round(best, 4)


if __name__ == "__main__":
    main()
