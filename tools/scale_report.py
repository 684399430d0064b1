#!/usr/bin/env python3
"""Assemble SCALE_r{N}.json from per-factor bench_full.json dumps AND
gate it: exit non-zero when any query regresses the scale posture, so
the round workflow (tools/run_scale.sh) fails loudly instead of
committing a broken 100 TB story.

Inputs (all produced by graft.Bench with SPARK_GRAFT_SF_DIR pointed at
ScaleGen-derived corpora, copied from target/bench_full.json):
  target/scale_x{1,10,32,100}.json   core scale-critical family
  target/scale2_x{1,10,32,100}.json  extended heavy/iterative set
  target/full_x{1,10}.json           the FULL query suite

For each query: seconds, shuffle-write bytes, peak task memory, spill,
and (round 6+) the max broadcast build side (rows/bytes) at each
factor, plus growth ratios normalized by the data growth — ratio <= ~1
means at-most-linear scaling (fixed overheads make small-factor ratios
< 1). Queries whose EXPECTED growth is not linear under the derived
corpus carry an explanatory note instead of counting toward the gate.

GATE (exit 1 on any violation):
  0. a scaled (factor > 1) run whose sink wrote ZERO rows while the x1
     baseline wrote rows — the round-6/7 class of silent environment
     drift (a glob matching no files, a schema mismatch) reads as an
     implausibly fast empty run, not an error; the crash class is
     caught by rule 1. out_rows is the V2 noop write exec's OWN
     numOutputRows (since r9 the bench probe answers -1 for every
     helper execution — centroid collects, convergence count()s — so a
     helper's 1-row aggregate can no longer mask an empty sink).
     Two rejected alternatives, both tried: wall-time
     ratio < 0.05 flags healthy bounded-state queries (bloom-pruned
     joins, histogram percentiles, day-bucketed windows are
     legitimately 20-30x sublinear while reading every byte), and task
     inputMetrics under-report local-mode columnar parquet scans by
     ~100x (17KB reported for a 10.8MB lineitem scan), so input-bytes
     growth misfires on most of the suite. out_rows == -1 (dump
     predates the probe) is exempt.
  1. a query missing from, or crashed at, any factor it should cover;
  2. time_growth_vs_linear at the top factor > TIME_RATIO_MAX (1.2)
     without an expected_growth_note;
  3. broadcast build bytes growing with the corpus: top-factor
     bcast_bytes > BCAST_ABS_FLOOR and > BCAST_RATIO_MAX x the x1
     bytes, without a note — the static-planner/hint class of bug
     (broadcasting a corpus-scaling side whose pruned or aggregate
     size ESTIMATE looks small: invisible at test SF, driver OOM at
     100 TB). The 256MB floor sits above the ceiling an AQE runtime
     decision can reach (AQE flips to shuffle once a stage's
     compressed stats pass ~10MB, which caps its in-memory dataSize
     around 100-150MB), so anything past it is a plan that will NOT
     self-correct as data grows. This check catches the round-5
     q_doc_assembly bug AND the round-6 finds it already produced
     (q_nullsafe_join/q_pack_tokens/q_tfidf_terms/q_semi_join/
     q_anti_join/q_array_ops/q_gap_fill/q_cross_ref — all fixed with
     merge hints or a dim-side broadcast pin).
  4. full-suite x10: ratio > TIME_RATIO_MAX with t_x10 > FULL_T_FLOOR
     (absolute floor keeps sub-second scheduler noise out of the gate).

Usage: python3 tools/scale_report.py SCALE_r6.json
"""
import json, os, sys

FACTORS = [1, 10, 32, 100]
TIME_RATIO_MAX = 1.2

BCAST_RATIO_MAX = 4.0
BCAST_ABS_FLOOR = 256 * 1024 * 1024
FULL_T_FLOOR = 5.0

# Queries where the derived corpus itself changes the workload model,
# so raw ratio-vs-linear is the wrong yardstick. Ratios are still
# reported; these notes say what growth IS expected and why.
NOTES = {
    "q_hierarchy": (
        "edges form ONE decimal-digit tree (parent = key div 10) whose depth "
        "grows ~log10(n) with the key range, so closure work is n x depth "
        "(super-linear by the depth factor). A real ontology is a FIXED "
        "dimension that does not deepen when facts grow; the measured growth "
        "matches the n x depth model, not an operator defect."),
    "q_ancestor_arrays": (
        "same decimal-tree model as q_hierarchy (ancestor ARRAY per node: "
        "rows x depth both grow), expected ~depth-factor over linear. "
        "Round 5 carried a 'needs a 16 GiB JVM at 32 partitions' caveat; "
        "SCALE_r14's partitions_matrix sweep and the x100 tier IN THIS "
        "ARTIFACT'S OWN queries dict retire it MEASURED: every sweep "
        "point and x100 row completes on the default 8g heap — the external sorts SPILL "
        "instead of OOMing, wall-time is flat across the sweep, and under "
        "AQE the task-size knob is the advisory partition size (AQE "
        "re-coalesces whatever shuffle.partitions says), not the raw "
        "partition count. (An x100 row absent here means the tier did not "
        "run — the missing-factor gate fails the report in that case.)"),
    "q_observations": (
        "shuffle grows exactly linearly; wall-time lands modestly over "
        "linear because the query ends in a GLOBAL range sort kept only for "
        "oracle-hash determinism — n log n, and the overage matches the "
        "log-factor. Production writes partitioned-unsorted (SURVEY section "
        "5's orderBy-for-oracle note)."),
    "q_salted_join": (
        "the derived corpus scales orders x K, and this query uses orders "
        "as the BROADCAST DIM side — the salted-broadcast pattern targets a "
        "skewed fact against a FIXED dim, so dim-side growth distorts the "
        "workload. The measurements show AQE doing the right thing: at x10 "
        "the join still broadcasts, at larger factors AQE flips to a "
        "shuffle join (shuffle_write jumps from 0) — the runtime re-plan "
        "this pattern relies on when a dim outgrows the threshold. The "
        "broadcast-bytes growth this report flags is therefore EXPECTED "
        "here (the dim itself scales; AQE caps the build side by flipping "
        "to shuffle), and the shuffle ratio divides by ~0 and is "
        "meaningless."),
    "q_mannwhitney": (
        "the rank window externally sorts each key's rows, and this corpus "
        "has only FIVE event_type keys: parallelism is bounded by 5 no "
        "matter the cluster, so wall-time grows ~ (n/5) log n while shuffle "
        "stays linear. A real parameter space has thousands of keys; "
        "q_fdr_bh runs the same operator keyed by (type, month) with 12x "
        "the key count and shows the parallel behavior."),
    "q_fdr_bh": (
        "upstream is the q_mannwhitney rank-sum keyed by (type, month) — "
        "60 keys, linear shuffle; the BH windows themselves act on the "
        "|tests|-sized results table (60 rows at EVERY factor — constant), "
        "so growth tracks the upstream window sort (n log n over 60-way "
        "parallelism)."),
    "q_quality_model": (
        "token explode + per-doc combine are linear; the trailing global "
        "ORDER BY doc_id (oracle-hash determinism, SURVEY section 5's "
        "orderBy-for-oracle note) adds the n log n tail q_observations "
        "documents. Production writes partitioned-unsorted."),
    "q_dedup_semantic": (
        "k is DERIVED by the nlist rule (k = n/64, Cluster.kForCorpus) so "
        "blocking cells stay ~64 rows at every factor — the sizing contract "
        "this round moved from a comment into code. The cost of that "
        "contract is visible here: flat centroid assignment scores all k "
        "centroids per row, O(n x k) = O(n^2/64) total, super-linear BY "
        "DESIGN of flat nlist scaling (FAISS's flat IVF training has the "
        "same curve). The gate-relevant alternatives are worse: a FIXED k "
        "keeps time linear but lets cells grow until the maxBlock cap "
        "drops them — the silent-empty-dedup failure embedCosine now "
        "refuses loudly. Past the flat ceiling (262k vectors) assignCells "
        "auto-escalates to the two-level coarse-then-fine path "
        "(kmeansTwoLevel — certified at 400k vectors, SCALE_r10 "
        "two_level_kmeans_x200). The SHUFFLE ratio here is the DESIGNED "
        "size-conditional join pin, not drift: below "
        "Dedup.BroadcastSafeCorpusRows (64k rows) the verify joins "
        "broadcast (near-zero shuffle at x1), past it they flip to merge "
        "joins — the same measured crossover q_ngram_lm's note documents, "
        "installed after an un-pinned broadcast build OOM'd an 8g driver "
        "at 400k vectors. Correctness of "
        "the derived-k path is oracle-pinned at the 500-vector corpus "
        "(derivation lands on the oracle's k=8) and the assignment paths "
        "are spec-proven bit-identical."),
    "q_curate_e2e": (
        "wall is strongly SUBLINEAR (x10 at 0.23-of-linear, x32 at 0.19) "
        "but shuffle-write crosses over: x1->x10 is ~6.7x over linear "
        "(20.8 MB -> 1.39 GB) because at x1 the 5k-doc corpus sits below "
        "Dedup.BroadcastSafeCorpusRows (64k) so the near-dup re-score and "
        "token-budget joins all BROADCAST (near-zero shuffle baseline); "
        "past the pin they flip to merge joins — the same designed "
        "size-conditional crossover q_dedup_semantic/q_ngram_lm document. "
        "Post-flip growth is honest: x10->x32 is 1.36x over linear, the "
        "residual being near-dup candidate-pair growth. The SCALE_r16 "
        "curate_neardup_strategy_ab decomposition (cumulative-prefix "
        "diffs) pins WHERE the x32 bytes live: the stage-3 pair "
        "GENERATION segment owns 5726 of 5758 MB (the prefix-filter "
        "bucket shuffle — every doc's rarest (1-tau)*s shingles), the "
        "shingle-edge split stage 0.4 MB, everything else ~32 MB. "
        "Swapping the generator to nearDupStrategy=pruned (minhash "
        "banding, identical output per CurateStrategySpec) cuts the "
        "chain's shuffle 15x (5758 -> 381 MB) and wall 88 -> 71 s at "
        "x32 — the measured 100 TB configuration. Since r14 the "
        "UN-PINNED rows run nearDupStrategy=auto, which picks pruned "
        "past AutoPrunedMinDocs (100k docs) — so the x32/x100 entries "
        "in the queries dict are the PRUNED profile by rule, with the "
        "explicit lossless/pruned controls and the auto adjudication "
        "in SCALE_r16 curate_neardup_strategy_ab."),
    "q_ingest_night": (
        "the nightly-ingest DAG (persisted fingerprint index -> verdicts "
        "-> refreshed index) WRITES its three stages as parquet targets — "
        "wall includes real table writes, and shuffle carries only the "
        "narrow (fp, min-id) index, so growth is linear-in-index and "
        "sublinear in wall (x10 at 0.22-of-linear). The history axis "
        "(SCALE_r16 incremental_dedup_history_axis) is the operator's real "
        "measurement: fixed batch, indexed wall exponent ~0."),
    "q_approx_distinct": (
        "the CERTIFIED plan: next to the HLL sketches it carries exact "
        "countDistinct twins whose distinct-key partial-agg hash state "
        "scales with the corpus (the q_file_provenance model — value is "
        "near-unique per row), plus the in-plan bound compare. That exact "
        "twin is the very cost the sketch exists to avoid at 100 TB; it "
        "rides the benched plan for certification only (the driver hash "
        "gate needs it). The PRODUCTION path is q_approx_distinct_sketch "
        "in this same artifact — sketch-only, gate-covered with no note; "
        "the delta between the two rows IS the measured certification "
        "cost (VERDICT r13 #5)."),
    "q_approx_percentile": (
        "the CERTIFIED plan: the exact percentile() twin buffers and "
        "sorts every group's values, and lineitem has only THREE "
        "l_returnflag keys — parallelism is bounded by 3 regardless of "
        "cluster size, so wall grows ~ (n/3) log n (the q_mannwhitney "
        "model) on top of the sketch. Certification-only cost; the "
        "production path is q_approx_percentile_sketch (gate-covered, "
        "no note) and the row delta is the measured certification cost."),
    "q_hll_union": (
        "the CERTIFIED plan: exact countDistinct(user_id) twins ride "
        "next to the HLL sketches (per type AND global) for the in-plan "
        "bound compare — a full distinct shuffle the mergeable sketches "
        "exist to avoid. Certification-only; the production path is "
        "q_hll_union_sketch (gate-covered, no note); the row delta is "
        "the measured certification cost."),
    "q_ingest_neardup": (
        "the nightly near-dup ingest DAG on a 70/30 split of the SCALED "
        "corpus: unlike the history axis's neardup rows (fixed batch, "
        "growing history — the operator's O(batch) measurement), here "
        "batch AND history both scale with the factor, and candidate "
        "volume additionally tracks the corpus's near-dup pair density "
        "(ScaleGen's per-bijection strata preserve the x1 pair structure "
        "per stratum), so modestly super-linear wall at the top factor "
        "is the expected model, not index drift. Wall also includes the "
        "DAG's three real parquet target writes (the q_ingest_night "
        "model). The O(batch) claim is certified by SCALE_r16 "
        "incremental_dedup_history_axis's neardup_indexed_* rows."),
    "q_token_bpe_dist": (
        "each of the 30 merge rounds is one map-side-combined pair-count "
        "shuffle whose volume is the DISTINCT pair dictionary, not the "
        "corpus: dictionary growth is sublinear in corpus size (vocab "
        "saturates), so wall-time is dominated by fixed per-round job "
        "overhead (30 x ~0.3s scheduling) at small factors and grows "
        "sublinearly; the x1 baseline is almost pure overhead, making the "
        "raw ratio noisy rather than a scaling signal."),
}

# The full-suite x10 section reuses NOTES plus these (queries whose
# oracle-parity surface, not the operator, is the super-linear part).
FULL_NOTES = {
    "q_unpivot_measures": (
        "ends in a global ORDER BY over the exploded 60k x 3 -> 1.8M-row "
        "long table at x10, kept only for oracle-hash determinism (n log n "
        "sort + single-writer coalesce dominates; the unpivot itself is a "
        "narrow projection)."),
    "q_derived_params": (
        "a narrow per-row formula map whose only wide op is the trailing "
        "global ORDER BY over the full 6M-row output at x10, kept for "
        "oracle-hash determinism: n log n plus range-sampling re-runs the "
        "narrow chain, so the ratio sits just over 1 and straddles the "
        "gate with run noise. Production writes partitioned-unsorted."),
    "q_map_ops": (
        "same oracle-sort tail as q_derived_params over the 1.5M-row map- "
        "algebra output at x10 (map_entries/transform allocate per row — "
        "heavy constants, linear growth modulo the trailing sort)."),
    "q_chunk_windows": (
        "the chunker itself is a zero-shuffle narrow map + generate, but the "
        "emitted chunk_text payload is ~size/stride (1.33x) the corpus TEXT "
        "and the trailing global (doc, chunk) ORDER BY — kept only for "
        "oracle-hash determinism — both range-shuffles that payload and "
        "re-runs the narrow generation in its sampling pass, so measured "
        "wall sits ~1.5x linear. Production writes partitioned-unsorted: "
        "chunk ids are (doc, position) pairs, any layout works."),
    "q_file_provenance": (
        "count(DISTINCT key) over a PER-ROW-UNIQUE key: the distinct "
        "pre-aggregation gets zero reduction, so the aggregation hash "
        "state is the full row count spread over however many tasks AQE "
        "actually schedules (cache-miss growth makes measured wall "
        "super-linear). SCALE_r14's partitions_matrix swept this query "
        "32->256: wall-time is FLAT (~22-24 s at x32) and the 8g heap holds at "
        "every setting — hash aggregation spills; at 100 TB "
        "approx_count_distinct is the stated alternative "
        "(q_approx_distinct)."),
}


def load(prefix, f):
    path = f"target/{prefix}_x{f}.json"
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)["queries"]


def entry_at(m):
    e = {
        "sec": round(m["sec"], 3),
        "shuffle_write": m.get("shuffle_write", 0),
        "peak_task_mem": m.get("peak_task_mem", 0),
        "spill": m.get("spill", 0),
        "bcast_rows": m.get("bcast_rows", 0),
        "bcast_bytes": m.get("bcast_bytes", 0),
        "out_rows": m.get("out_rows", -1),
        "input": m.get("input", 0),
    }
    # r14: capped-bucket drop accounting from the banded near-dup
    # generators (Dedup.NearDupDropObservation riding the plan) —
    # surfaced only where the observation fired, so non-near-dup rows
    # stay unchanged
    if m.get("neardup_largest_bucket", 0):
        for k in ("neardup_dropped_buckets", "neardup_dropped_rows",
                  "neardup_largest_bucket"):
            e[k] = m.get(k, 0)
    return e


RULE0_CACHE = "target/rule0_cache.json"


def _rule0_cache():
    try:
        return json.load(open(RULE0_CACHE))
    except Exception:
        return {}


def oracle_rows_at(q, factor):
    """Adjudicate a rule-0 flag against the DuckDB oracle ON THE SCALED
    corpus: if the query's own oracle SQL also returns zero rows there,
    the emptiness is the corpus's truth, not drift. Returns the oracle
    row count, or None when it cannot be run (no dumped SQL, no DuckDB,
    corpus missing) — None keeps the flag.

    Results are CACHED in target/rule0_cache.json keyed by query@factor:
    the x100 adjudications replay heavyweight oracles (the q_bitext_mine
    blocked-pairs SQL is ~78M list-pair computations — hours in DuckDB),
    and a delta re-gate that re-runs the report must not pay that again
    for zero-row sets the previous gate already adjudicated. The cache
    is keyed only by (query, factor): invalidated by deleting the file
    when a scaled corpus is regenerated or an oracle changes."""
    cache = _rule0_cache()
    key = f"{q}@x{factor}"
    if key in cache:
        return cache[key]
    try:
        import duckdb
    except ImportError:
        return None
    if not os.path.exists("target/oracle_sql.json"):
        return None
    sql = json.load(open("target/oracle_sql.json")).get(q)
    if sql is None:
        return None
    corpus = "/root/testdata/sf0.1" if factor == 1 else f"target/scale/x{factor}"
    if not os.path.isdir(corpus):
        return None
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        p = f"{corpus}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    try:
        n = len(con.execute(sql).fetchall())
    except Exception:
        return None
    cache = _rule0_cache()
    cache[key] = n
    json.dump(cache, open(RULE0_CACHE, "w"))
    return n


def empty_run_violations(q, runs_by_factor):
    """Gate rule 0: a SCALED run whose sink wrote zero rows while the x1
    baseline wrote rows did not process the corpus (see module docstring
    for why wall-time and input-bytes heuristics were tried and
    rejected). Scoped to factors > 1 compared against the x1 baseline:
    a query whose result set is LEGITIMATELY empty at every factor (an
    unmatched/diff report that finds nothing) is not drift — drift is
    rows at x1 vanishing at x10/x32/x100. A flag is ADJUDICATED against
    the query's own DuckDB oracle on the scaled corpus when possible:
    thresholded reports can legitimately empty out as the corpus
    diversifies (measured r9: ScaleGen's perturbed x10 documents dilute
    every token below q_heavy_hitters' n/(k+1) bound — the oracle on
    that corpus returns zero rows too, so zero IS the right answer)."""
    base = runs_by_factor.get(1)
    if base is None or base.get("out_rows", -1) <= 0:
        return []
    zero = [f for f, m in runs_by_factor.items()
            if f != 1 and m is not None and m.get("out_rows", -1) == 0]
    if not zero:
        return []
    confirmed, adjudicated = [], []
    for f in zero:
        orows = oracle_rows_at(q, f)
        if orows == 0:
            adjudicated.append(f)
        else:
            confirmed.append(f)
    out = []
    if confirmed:
        out.append({"query": q, "rule": "zero_output_rows", "factors": confirmed})
    if adjudicated:
        out.append({"query": q, "rule": "zero_output_adjudicated_legitimate",
                    "factors": adjudicated, "gate": False,
                    "note": "oracle SQL on the scaled corpus also returns 0 rows"})
    return out


def main(out_path):
    runs = {f: {**load("scale", f), **load("scale2", f)} for f in FACTORS}
    queries = sorted(runs[1].keys())
    top = max(f for f in FACTORS if runs[f])
    report = {
        "factors": FACTORS,
        "top_factor": top,
        "config_note": (
            "x1/x10 run at the default shuffle.partitions=32; x32 at 64 and "
            "x100 at 128 (SPARK_GRAFT_SHUFFLE_PARTITIONS) — scaling "
            "partitions with data is the deployment contract. Streaming "
            "runners likewise "
            "scale their stateful-shuffle width (4/16/32 via "
            "SPARK_GRAFT_STREAM_PARTITIONS). All runs: local[32], 8g "
            "driver JVM."),
        "queries": {}, "failed": [], "gate_violations": [],
    }
    # an entirely-missing factor must fail the gate, not silently
    # shrink `top` (r9: the wedged x100 run left no dump and the
    # report certified x32 as the top tier without complaint)
    for f in FACTORS:
        if not runs[f]:
            report["failed"].append(
                {"query": f"_factor_x{f}", "missing_factors": [f],
                 "failed_factors": [],
                 "note": "entire factor dump missing -> the gate cannot "
                         "certify this tier; re-run it"})
    worst = (None, 0.0)
    for q in queries:
        missing = [f for f in FACTORS if runs[f] and q not in runs[f]]
        crashed = [f for f in FACTORS if q in runs[f] and runs[f][q]["sec"] < 0]
        if missing or crashed:
            report["failed"].append(
                {"query": q, "missing_factors": missing, "failed_factors": crashed})
            continue
        entry = {}
        for f in FACTORS:
            if runs[f]:
                entry[f"x{f}"] = entry_at(runs[f][q])
        t1, tN = runs[1][q]["sec"], runs[top][q]["sec"]
        s1 = max(1, runs[1][q].get("shuffle_write", 0))
        sN = runs[top][q].get("shuffle_write", 0)
        b1 = runs[1][q].get("bcast_bytes", 0)
        bN = runs[top][q].get("bcast_bytes", 0)
        entry[f"time_growth_vs_linear_x{top}"] = round((tN / t1) / top, 3)
        entry[f"shuffle_growth_vs_linear_x{top}"] = round((sN / s1) / top, 3)
        entry[f"bcast_bytes_x1_to_x{top}"] = [b1, bN]
        noted = q in NOTES
        if noted:
            entry["expected_growth_note"] = NOTES[q]
        tr = entry[f"time_growth_vs_linear_x{top}"]
        report["gate_violations"].extend(empty_run_violations(
            q, {f: runs[f].get(q) for f in FACTORS if runs[f]}))
        if not noted and tr > worst[1]:
            worst = (q, tr)
        if not noted and tr > TIME_RATIO_MAX:
            report["gate_violations"].append(
                {"query": q, "rule": "time_growth", "ratio": tr})
        if (not noted and bN > BCAST_ABS_FLOOR
                and bN > BCAST_RATIO_MAX * max(1, b1)):
            report["gate_violations"].append(
                {"query": q, "rule": "broadcast_growth",
                 "bcast_bytes_x1": b1, f"bcast_bytes_x{top}": bN})
        report["queries"][q] = entry

    # ---- full-suite x10 ----
    full = {f: load("full", f) for f in (1, 10)}
    if full[1] and full[10]:
        sec = {}
        for q in sorted(full[1]):
            if q not in full[10]:
                report["failed"].append(
                    {"query": q, "missing_factors": ["full_x10"], "failed_factors": []})
                continue
            t1, t10 = full[1][q]["sec"], full[10][q]["sec"]
            if t1 < 0 or t10 < 0:
                report["failed"].append(
                    {"query": q, "missing_factors": [],
                     "failed_factors": [f for f, t in [(1, t1), (10, t10)] if t < 0]})
                continue
            r = round((t10 / t1) / 10, 3)
            e = {"x1_sec": round(t1, 3), "x10_sec": round(t10, 3),
                 "time_growth_vs_linear_x10": r,
                 "spill_x10": full[10][q].get("spill", 0),
                 "out_rows_x10": full[10][q].get("out_rows", -1)}
            report["gate_violations"].extend(empty_run_violations(
                q, {1: full[1][q], 10: full[10][q]}))
            note = NOTES.get(q) or FULL_NOTES.get(q)
            if note:
                e["expected_growth_note"] = note
            elif r > TIME_RATIO_MAX and t10 > FULL_T_FLOOR:
                report["gate_violations"].append(
                    {"query": q, "rule": "full_suite_time_growth",
                     "ratio": r, "x10_sec": t10})
            b10 = full[10][q].get("bcast_bytes", 0)
            b1 = full[1][q].get("bcast_bytes", 0)
            if (not note and b10 > BCAST_ABS_FLOOR
                    and b10 > BCAST_RATIO_MAX * max(1, b1)):
                report["gate_violations"].append(
                    {"query": q, "rule": "broadcast_growth_full_x10",
                     "bcast_bytes_x1": b1, "bcast_bytes_x10": b10})
            sec[q] = e
        report["full_suite_x10"] = {
            "queries": sec,
            "total_x1_sec": round(sum(v["x1_sec"] for v in sec.values()), 1),
            "total_x10_sec": round(sum(v["x10_sec"] for v in sec.values()), 1),
        }

    report["verdict"] = {
        "worst_time_growth_vs_linear": {"query": worst[0], "ratio": worst[1]},
        "failed_count": len(report["failed"]),
        "gate_violation_count": len([v for v in report["gate_violations"]
                                     if v.get("gate", True)]),
        "note": (f"ratio = (t_x{top}/t_x1)/{top}; <=1 means at-most-linear "
                 "wall-time growth on fixed local[32] resources. Queries "
                 "with expected_growth_note are excluded from the gate "
                 "(their expected model is not linear under the derived "
                 "corpus — see each note). Gate: time ratio > "
                 f"{TIME_RATIO_MAX}, or broadcast build bytes growing "
                 f">{BCAST_RATIO_MAX}x past {BCAST_ABS_FLOOR >> 20}MB "
                 "(past the self-limiting ceiling of an AQE runtime "
                 "broadcast decision), without a note -> exit 1."),
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps(report["verdict"], indent=1))
    for f in report["failed"]:
        print(f"{f['query']:24s} FAILED (missing {f['missing_factors']}, "
              f"crashed {f['failed_factors']})")
    for v in report["gate_violations"]:
        tag = "GATE VIOLATION" if v.get("gate", True) else "adjudicated (non-gating)"
        print(f"{v['query']:24s} {tag}: {v}")
    for q in queries:
        if q not in report["queries"]:
            continue
        e = report["queries"][q]
        flag = " *" if "expected_growth_note" in e else ""
        ts = " -> ".join(f"{e[f'x{f}']['sec']:7.2f}" for f in FACTORS if f"x{f}" in e)
        print(f"{q:24s} t: {ts}  (x{top} time ratio/linear "
              f"{e[f'time_growth_vs_linear_x{top}']:.2f}, shuffle "
              f"{e[f'shuffle_growth_vs_linear_x{top}']:.2f}){flag}")
    bad = report["failed"] or [v for v in report["gate_violations"]
                               if v.get("gate", True)]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "SCALE_r6.json")
