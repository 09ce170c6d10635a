"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with a noop write (full computation, no
driver-side collection), which is how a real cluster job would consume it.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

# Headline set: one representative per operator family (scan+agg, joins,
# window, top-k, dedup, similarity, text, as-of, streaming).
HEADLINE = [
    "q1_pricing_summary",
    "j1_inner_equi_join",
    "j6_broadcast_join",
    "j8_asof_join",
    "a8_pivot",
    "w1_row_number_latest",
    "o3_top_k_per_group",
    "x1_exact_dedup",
    "x2_minhash_near_dedup",
    "x3_similarity_bruteforce",
    "x4b_term_frequency",
    "x4f_corpus_curation",
    "t1_tumbling_window",
    # round-2 additions: lake layout + curation (no prior-round delta)
    "x1b_incremental_dedup",
    "x6d_decontamination",
    # round-14 addition: the Arrow int64-matmul MIPS kernel — benched to
    # keep the vectorized-Python path honest vs the JVM fold (x3)
    "x3y_mips_matmul_topk",
    # round-15 addition: the uncapped large-star/small-star closure — the
    # O(log n) loop's constant factor (per-round shuffles + exceptAll
    # convergence check + localCheckpoint) measured round-over-round, not
    # just plan-gated
    "x2e2b_global_dedup_clusters_full",
]
# j11 is benchmarked as its two legs (see main): "j11_write" is the
# one-off bucketed ingest, "j11_join" the repeated shuffle-free join.

# The COMMON-18 subtotal set (r16, the r15 verdict's task 6): the 18
# per-query keys shared by every record since r14 — the full headline
# MINUS x2e2b, whose 9.5 s iterative closure dominates `value` and
# makes the TOTAL a poor round-over-round signal. FROZEN: future
# headline additions must NOT join this list (that would break the
# series it exists to anchor); they show up in `value` only.
COMMON18 = (
    "q1_pricing_summary",
    "j1_inner_equi_join",
    "j6_broadcast_join",
    "j8_asof_join",
    "a8_pivot",
    "w1_row_number_latest",
    "o3_top_k_per_group",
    "x1_exact_dedup",
    "x2_minhash_near_dedup",
    "x3_similarity_bruteforce",
    "x4b_term_frequency",
    "x4f_corpus_curation",
    "t1_tumbling_window",
    "x1b_incremental_dedup",
    "x6d_decontamination",
    "x3y_mips_matmul_topk",
    "j11_write",
    "j11_join",
)


def latest_bench_record_path(repo_root: str = REPO_ROOT) -> str | None:
    """Newest driver bench record (BENCH_rN.json) by INTEGER round
    number — lexicographic max would misorder r9 vs r10 once rounds
    outgrow the zero-padded width. The *_sf1 stress outputs never match
    the pattern. Single source of truth for bench.py's round-over-round
    delta and tools/stress_sf1.py's TIMING-SUSPECT cross-check."""
    import glob
    import re

    return max(
        (
            p
            for p in glob.glob(os.path.join(repo_root, "BENCH_r*.json"))
            if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
        ),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        default=None,
    )


def _force(df) -> int:
    # noop sink executes the whole plan without materializing on the driver.
    try:
        df.write.format("noop").mode("overwrite").save()
        return -1
    except Exception:
        return df.count()


# Host-speed calibration, TWO dimensions: the queries split into
# CPU-bound (expression/codegen-dominated) and shuffle-bound work, and
# one host can drift on each independently (a loaded disk/page cache
# moves shuffle spill speed without touching ALU throughput). So:
#
# - calib_cpu_sec: fixed-size, data-independent, in-memory JVM
#   aggregation (no IO, no shuffle) — raw expression/codegen speed.
#   Emitted also under its historical name calib_sec so older rounds'
#   drift ratios keep parsing.
# - calib_shuffle_sec: fixed-size groupBy over 1M keys (partial agg
#   nearly pass-through, so ~all rows cross the exchange) — shuffle
#   write/read + hash-agg speed.
#
# The *_NOMINAL_SEC constants pin the reference host per dimension
# (cpu: round-5 host; shuffle: round-7 host, its first measurement);
# value_normalized = value * (CPU nominal / measured cpu) re-expresses a
# total in reference-host seconds. The shuffle factor is reported so the
# round-over-round table can use the MATCHED normalizer per query class
# instead of assuming all drift is CPU drift.
CALIB_NOMINAL_SEC = 0.140
CALIB_SHUFFLE_NOMINAL_SEC = 0.700

# Per-query drift class: which calibration dimension dominates each
# headline query's runtime, so value_normalized applies the MATCHED
# factor per query instead of assuming all host drift is CPU drift
# (the r6<->r7 flip-flop: a shuffle/IO-slow host over-corrected
# CPU-bound queries and vice versa). Classification rationale:
# "cpu" = expression/codegen/hashing dominated, exchanges carry little
# (map-side combine, broadcast, or map-only); "shuffle" = an exchange,
# sort, state store, or write materializes table-sized data.
QUERY_CLASS = {
    "q1_pricing_summary": "cpu",        # scan + map-combined agg
    "j1_inner_equi_join": "shuffle",    # table x table SMJ exchange
    "j6_broadcast_join": "cpu",         # broadcast probe, no fact exchange
    "j8_asof_join": "shuffle",          # union + window shuffle on key
    "a8_pivot": "shuffle",              # groupBy exchange
    "w1_row_number_latest": "shuffle",  # window shuffle on user_id
    "o3_top_k_per_group": "shuffle",    # window group-limit exchange
    "x1_exact_dedup": "shuffle",        # fingerprint hash-agg exchange
    "x2_minhash_near_dedup": "cpu",     # per-shingle hashing dominates;
                                        # exchange carries 8 longs/doc
    "x3_similarity_bruteforce": "cpu",  # map-side dot products
    "x4b_term_frequency": "cpu",        # explode + map-combined token agg
    "x4f_corpus_curation": "cpu",       # map-only HOF expressions
    "t1_tumbling_window": "shuffle",    # micro-batch state store + commit
    "x1b_incremental_dedup": "shuffle", # anti-join exchange
    "x6d_decontamination": "cpu",       # gram hashing; corpus never shuffles
    "j11_write": "shuffle",             # bucketed sort + file write IO
    "j11_join": "cpu",                  # no-Exchange SMJ: scan + merge
    "x3y_mips_matmul_topk": "cpu",      # Arrow matmul kernel; exchange
                                        # carries batches x Q x k rows
    "x2e2b_global_dedup_clusters_full": "shuffle",  # iterative groupBy-min
                                        # rounds + exceptAll checks; the
                                        # gram pair stage's exchange is
                                        # pair-sized but every LS round
                                        # re-shuffles the edge set
}


def _min_of(n_runs: int, thunk) -> float:
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        thunk()
        best = min(best, time.time() - t0)
    return round(best, 4)


def _calibrate(spark) -> float:
    return _min_of(
        3,
        lambda: _force(
            spark.range(0, 50_000_000, 1, 8).selectExpr("sum(id * 2) AS s")
        ),
    )


def _calibrate_shuffle(spark) -> float:
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 4_000_000, 1, 16)
        .groupBy((F.col("id") % 1_000_000).alias("k"))
        .count()
        .selectExpr("sum(count) AS s")
    )
    return _min_of(3, lambda: _force(df))


def _fingerprint(spark) -> dict:
    import platform

    import pyspark

    cpu_model = ""
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as fh:
            for line in fh:
                if line.lower().startswith("model name"):
                    cpu_model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    calib_cpu = _calibrate(spark)
    return {
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "cpu_model": cpu_model,
        "cpus": os.cpu_count(),
        # the core budget the run actually had: os.cpu_count() above is the
        # host's, which a SPARK_GRAFT_CPUS-pinned run does not use
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "calib_sec": calib_cpu,  # historical name; == calib_cpu_sec
        "calib_cpu_sec": calib_cpu,
        "calib_shuffle_sec": _calibrate_shuffle(spark),
        "calib_nominal_sec": CALIB_NOMINAL_SEC,
        "calib_shuffle_nominal_sec": CALIB_SHUFFLE_NOMINAL_SEC,
        # each record carries ITS OWN round's class split so history
        # normalization survives a later cpu<->shuffle reclassification
        # (older records without this field fall back to the current
        # QUERY_CLASS mapping — the historical behavior)
        "shuffle_queries": sorted(
            n for n, c in QUERY_CLASS.items() if c == "shuffle"
        ),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ssn_college_software_architecture_assignments__spark import build_session
    import __spark_entry__ as entrymod

    spark = build_session(app_name="ssn-spark-bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] or sorted(qs)

    # Warm the JVM + parquet footers once so timings measure the query.
    _force(qs[names[0]](spark, sf_dir))

    fingerprint = _fingerprint(spark)

    # Run each query twice and report the min: machine noise on shared
    # hosts dwarfs plan differences (the same plan has been observed at
    # 3s and 54s), and min-of-2 is the cheapest stable estimator.
    per_query: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        per_query[name] = round(best, 3)

    # j11 split timing: the bucketed-table write is a one-off ingest cost
    # that amortizes over every later join; the join leg is the claim under
    # test (no-Exchange SMJ) and must stay cheap round-over-round.
    from ssn_college_software_architecture_assignments__spark.operators.joins import (
        j11_join_bucketed,
        j11_write_bucketed_tables,
    )

    # One scratch base shared by this timing AND any riser re-measure
    # below: overwrite mode replaces the bucketed tables in place, so a
    # re-measured j11_write never retains an extra full copy per run.
    from ssn_college_software_architecture_assignments__spark.scratch import (
        scratch_dir,
    )

    j11_base = scratch_dir(prefix="ssn_bucketed_bench_")
    t0 = time.time()
    j11_write_bucketed_tables(spark, sf_dir, base=j11_base)
    per_query["j11_write"] = round(time.time() - t0, 3)
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        _force(j11_join_bucketed(spark))
        best = min(best, time.time() - t0)
    per_query["j11_join"] = round(best, 3)

    # COMMON-18 median-of-3 (r17, the r16 verdict's task 7): this
    # host's raw common-18 subtotal flapped 16.3-21.2 s across three
    # isolated same-source runs in one hour, so a single reading per
    # round cannot distinguish a real 20% regression from host noise.
    # The frozen set therefore runs THREE full sweeps (ONE timing per
    # query per sweep — unlike the headline pass, which times j11_join
    # best-of-2; the sweeps also run warm, after the headline pass)
    # and the recorded value_common18 is the MEDIAN of the three sweep
    # totals, with the raw totals shipped alongside as
    # value_common18_runs so the spread is visible in the artifact.
    # NOTE for cross-round reads: r16 and earlier recorded
    # value_common18 as the single cold headline subtotal — the
    # r16 -> r17 estimator change is a small step in the series
    # (documented in BASELINE.md with the reading rule).
    # The full-headline pass above (and `value`) is unchanged.
    import statistics as _stats_c18

    def _run_common18_once(name: str) -> float:
        t0 = time.time()
        if name == "j11_write":
            j11_write_bucketed_tables(spark, sf_dir, base=j11_base)
        elif name == "j11_join":
            _force(j11_join_bucketed(spark))
        else:
            _force(qs[name](spark, sf_dir))
        return time.time() - t0

    common18_sweeps: list[dict[str, float]] = []
    for _ in range(3):
        common18_sweeps.append(
            {name: _run_common18_once(name) for name in COMMON18}
        )
    common18_runs = [round(sum(s.values()), 3) for s in common18_sweeps]
    common18 = round(_stats_c18.median(common18_runs), 3)

    # r19 estimator upgrade (additions-only, the r18 verdict's task 7):
    # the single-timing headline pass fed the r18 round-table FOUR
    # false per-query regressions (x1/x1b/x4b/t1 — untouched code, all
    # at-or-below record in the same run's sweeps), so for the frozen
    # common-18 the REPORTED per-query seconds are now the median of
    # that query's three isolated sweep readings — the same estimator
    # the common-18 subtotal has used since r17, applied per query.
    # The raw first-pass numbers ship alongside in BENCH_DETAIL.json
    # (queries_first_pass) for continuity; queries outside the frozen
    # set (x2e2b and future headline additions) keep the best-of-2
    # headline estimate, and nothing is removed or renamed.
    per_query_first_pass = dict(per_query)
    for name in COMMON18:
        samples = [s[name] for s in common18_sweeps if name in s]
        if samples:
            per_query[name] = round(_stats_c18.median(samples), 3)

    total = round(sum(per_query.values()), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Drift-normalized total: what this run would cost on the pinned
    # reference host, with the MATCHED calibration factor per query
    # class (QUERY_CLASS above). Guard against a degenerate calibration
    # (0 would mean the clock failed). Unlisted queries (someone edits
    # HEADLINE without classifying) normalize as cpu — the historical
    # behavior — so the total stays comparable rather than crashing.
    calib = fingerprint["calib_sec"]
    shuf = fingerprint["calib_shuffle_sec"]
    if calib > 0 and shuf > 0:
        factor = {
            "cpu": CALIB_NOMINAL_SEC / calib,
            "shuffle": CALIB_SHUFFLE_NOMINAL_SEC / shuf,
        }
        normalized = round(
            sum(
                t * factor[QUERY_CLASS.get(n, "cpu")]
                for n, t in per_query.items()
            ),
            3,
        )
        # per-sweep matched normalization, then the median — the same
        # estimator as the raw value_common18 so the two series move
        # together
        common18_norm_runs = [
            round(
                sum(t * factor[QUERY_CLASS.get(n, "cpu")] for n, t in s.items()),
                3,
            )
            for s in common18_sweeps
        ]
        common18_normalized = round(_stats_c18.median(common18_norm_runs), 3)
        # the old single-factor series, kept so r<=7 records stay readable
        normalized_cpu_only = round(total * factor["cpu"], 3)
    else:
        normalized = normalized_cpu_only = common18_normalized = None
        common18_norm_runs = []
        factor = {}  # riser adjudication guards on this being empty

    # The driver records only the TAIL of the printed line; round 8's
    # record lost value/value_normalized to that truncation (the verbose
    # notes/query_class pushed them off the front -> parsed: null). So
    # the PRINTED line is kept minimal — verbose diagnostics (query
    # classes, per-query deltas vs the prior round, calibration drift,
    # the full notes) go to BENCH_DETAIL.json next to this script — and
    # the headline fields sit at the END of the object so any future
    # truncation eats diagnostics first, not the grade.
    out = {
        "queries": per_query,
        "fingerprint": fingerprint,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
        "notes": "per-class matched normalization; detail in BENCH_DETAIL.json",
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "value_normalized_cpu_only": normalized_cpu_only,
        # the round-over-round series (r16 on): the frozen 18-query
        # subtotal, raw and matched-normalized — `value` tracks the
        # full (growing) headline set and anchors nothing. From r17 on
        # both are the MEDIAN of three isolated sweeps; the per-sweep
        # totals ride along so the record carries its own spread.
        "value_common18_runs": common18_runs,
        "value_common18_normalized": common18_normalized,
        "value_common18": common18,
        "value_normalized": normalized,
        "value": total,
    }

    detail = {
        "query_class": {n: QUERY_CLASS.get(n, "cpu") for n in per_query},
        # the pre-r19 estimator's numbers (headline pass: best-of-2,
        # j11_write single) — the continuity record behind the r19
        # median-of-sweeps per-query upgrade above
        "queries_first_pass": per_query_first_pass,
        # the three common-18 sweeps, per query (raw seconds) plus the
        # matched-normalized sweep totals — the spread record behind
        # value_common18's median
        "common18_sweeps": [
            {n: round(t, 3) for n, t in s.items()} for s in common18_sweeps
        ],
        "common18_normalized_runs": common18_norm_runs,
        # NB: keyed notes_detail, NOT notes — the **out splat below also
        # carries a (short) notes field and later keys would win.
        "notes_detail": (
            "value_normalized applies the MATCHED per-class calibration "
            "factor to each query (query_class: cpu-bound queries scale "
            "by calib_nominal_sec/calib_cpu_sec, shuffle-bound by "
            "calib_shuffle_nominal_sec/calib_shuffle_sec) and sums — the "
            "honest round-over-round series from r8 on; "
            "value_normalized_cpu_only keeps the r<=7 single-factor "
            "series for continuity with older records; j11 stays split "
            "as j11_write (one-off ingest) + j11_join (repeated "
            "no-Exchange SMJ leg). NB the cpu-only normalized series "
            "swings with calibration drift (r10 read 0.76x on a slow "
            "host, r11 0.99x on a fast one while raw dropped 13%) — "
            "read value_normalized (matched per-class) as the primary "
            "round-over-round series and value_normalized_cpu_only "
            "only for continuity with r<=7 records"
        ),
        **out,
    }

    # Round-over-round continuity: compare against the newest BENCH_r*.json
    # so per-query regressions are visible in the detail record.
    prior = latest_bench_record_path()
    if prior:
        try:
            with open(prior, encoding="utf-8") as fh:
                prev = json.load(fh)
            # The driver wraps the bench line under "parsed". Guard every
            # shape assumption: a corrupted/hand-edited prior file must
            # never kill the bench run.
            if not isinstance(prev, dict):
                raise ValueError("prior bench file is not a JSON object")
            prev_q = prev.get("parsed", prev)
            prev_q = prev_q.get("queries", {}) if isinstance(prev_q, dict) else {}
            detail["prev_round"] = os.path.basename(prior)
            detail["delta_vs_prev"] = {
                n: round(per_query[n] - prev_q[n], 3)
                for n in per_query
                if isinstance(prev_q.get(n), (int, float))
            }
            # Host-speed ratio vs the previous round, when it recorded a
            # calibration: >1 means this host is that much slower now.
            prev_parsed = prev.get("parsed", prev)
            prev_fp = (
                prev_parsed.get("fingerprint", {})
                if isinstance(prev_parsed, dict)
                else {}
            )
            prev_calib = prev_fp.get("calib_sec")
            if isinstance(prev_calib, (int, float)) and prev_calib > 0 and calib > 0:
                detail["calib_drift_vs_prev"] = round(calib / prev_calib, 3)
            prev_shuf = prev_fp.get("calib_shuffle_sec")
            shuf = fingerprint["calib_shuffle_sec"]
            if isinstance(prev_shuf, (int, float)) and prev_shuf > 0 and shuf > 0:
                detail["calib_shuffle_drift_vs_prev"] = round(shuf / prev_shuf, 3)
            # Riser self-adjudication (standing practice since r11: the
            # r10 x6d blip needed a manual re-measure to call host
            # noise). Every query >25% slower raw than the prior round
            # gets (a) an immediate best-of-3 re-measure in THIS
            # session — in-session disagreement — and (b) the median of
            # its raw times across ALL recorded rounds plus this run,
            # so the next blip is self-adjudicating from the artifact.
            import glob as _glob
            import re as _re
            import statistics as _stats

            risers = [
                n
                for n in per_query
                if isinstance(prev_q.get(n), (int, float))
                and prev_q[n] > 0
                and per_query[n] / prev_q[n] > 1.25
            ]
            if risers:
                hist: dict[str, list[float]] = {n: [] for n in risers}
                # Host-matched series: raw samples recorded on different
                # hosts/calibrations can mislabel a real regression as
                # history-consistent, so each sample is ALSO re-expressed
                # in reference-host seconds via its own record's matched
                # calibration factor (cpu- or shuffle-class per query)
                # when that record carries one.
                hist_norm: dict[str, list[float]] = {n: [] for n in risers}
                hist_rounds: dict[str, list[str]] = {n: [] for n in risers}
                for bf in sorted(
                    _glob.glob(os.path.join(REPO_ROOT, "BENCH_r*.json"))
                ):
                    # strict round-file filter (same contract as
                    # latest_bench_record_path): BENCH_rN_sf1.json
                    # stress records must NEVER feed the history
                    # median — 10x-scale timings would call real
                    # regressions noise (review-caught)
                    if not _re.fullmatch(
                        r"BENCH_r\d+\.json", os.path.basename(bf)
                    ):
                        continue
                    try:
                        with open(bf, encoding="utf-8") as fh:
                            rec = json.load(fh)
                        rq = rec.get("parsed", rec)
                        rfp = (
                            rq.get("fingerprint", {}) if isinstance(rq, dict) else {}
                        )
                        rq = rq.get("queries", {}) if isinstance(rq, dict) else {}
                        rfactor = {}
                        rc = rfp.get("calib_cpu_sec") or rfp.get("calib_sec")
                        rs = rfp.get("calib_shuffle_sec")
                        if isinstance(rc, (int, float)) and rc > 0:
                            rfactor["cpu"] = CALIB_NOMINAL_SEC / rc
                        if isinstance(rs, (int, float)) and rs > 0:
                            rfactor["shuffle"] = CALIB_SHUFFLE_NOMINAL_SEC / rs
                        # prefer the record's OWN class split: a query
                        # reclassified cpu<->shuffle since that round
                        # must normalize by the factor its sample was
                        # actually subject to, not today's mapping
                        rshuf = rfp.get("shuffle_queries")
                        for n in risers:
                            if isinstance(rq.get(n), (int, float)):
                                hist[n].append(float(rq[n]))
                                hist_rounds[n].append(os.path.basename(bf))
                                if isinstance(rshuf, list):
                                    cls = "shuffle" if n in rshuf else "cpu"
                                else:
                                    cls = QUERY_CLASS.get(n, "cpu")
                                if cls in rfactor:
                                    hist_norm[n].append(
                                        float(rq[n]) * rfactor[cls]
                                    )
                    except (OSError, ValueError, AttributeError):
                        continue
                adjud = {}
                for n in risers:
                    # live Spark work: guarded per-riser so one failed
                    # re-measure (checkpoint collision, loaded host)
                    # records a marker instead of killing the bench
                    # line, and never hides behind the JSON-parsing
                    # except below (review-caught)
                    try:
                        best = float("inf")
                        for _ in range(3):
                            t0 = time.time()
                            if n == "j11_write":
                                # same base as the primary timing: in-place
                                # overwrite, no copy retained per re-run
                                j11_write_bucketed_tables(
                                    spark, sf_dir, base=j11_base
                                )
                            elif n == "j11_join":
                                _force(j11_join_bucketed(spark))
                            else:
                                _force(qs[n](spark, sf_dir))
                            best = min(best, time.time() - t0)
                    except Exception as exc:  # noqa: BLE001
                        adjud[n] = {
                            "first_run_sec": per_query[n],
                            "remeasure_error": f"{type(exc).__name__}: {exc}"[:200],
                        }
                        continue
                    samples = hist[n] + [per_query[n]]
                    cls = QUERY_CLASS.get(n, "cpu")
                    own_factor = factor.get(cls) if calib > 0 and shuf > 0 else None
                    norm_samples = hist_norm[n] + (
                        [per_query[n] * own_factor] if own_factor else []
                    )
                    adjud[n] = {
                        "first_run_sec": per_query[n],
                        "remeasure_best_of_3_sec": round(best, 3),
                        "bench_disagreement": round(per_query[n] / best, 3)
                        if best > 0
                        else None,
                        "history_median_sec": round(_stats.median(samples), 3),
                        # host-matched: every sample re-expressed in
                        # reference-host seconds via its OWN round's
                        # calibration before the median is taken
                        "history_median_normalized_sec": round(
                            _stats.median(norm_samples), 3
                        )
                        if norm_samples
                        else None,
                        "history_rounds": hist_rounds[n],
                        "n_history_rounds": len(hist[n]),
                    }
                detail["riser_remeasure"] = adjud
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            pass
    try:
        with open(
            os.path.join(REPO_ROOT, "BENCH_DETAIL.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not kill the bench line
    print(json.dumps(out))


if __name__ == "__main__":
    main()
