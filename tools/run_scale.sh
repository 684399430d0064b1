#!/bin/bash
# Round scale workflow: derive x10/x32/x100 corpora, bench the full
# suite at x1/x10 and the scale-critical family at x32/x100, then
# assemble AND GATE the report (tools/scale_report.py exits 1 on any
# super-linear time growth, corpus-scaling broadcast build, or crashed
# query that lacks a documented expected-growth model).
#
# Usage: bash tools/run_scale.sh [SCALE_rN.json]
# Idempotent: corpora and per-factor jsons are reused when present —
# delete target/scale or target/*_x*.json to force a re-run.
set -e
cd "$(dirname "$0")/.."
OUT=${1:-SCALE_r13.json}
SF=/root/testdata/sf0.1

# the gate's own fixtures first: an hour of benching behind a broken
# gate is worthless
python3 tools/test_scale_report.py >/dev/null \
  || { echo "!! scale_report rule-0 fixtures failed"; exit 1; }

# the scale-critical family: every query whose plan shape carries the
# 100 TB story (iterative clustering, dedup, as-of, both e2e pipelines,
# global windows, media decode/encode, the distributed BPE trainer)
CORE=q_ancestor_arrays,q_simjoin_prefix,q_ngram_lm,q_dsir_select,q_token_budget,q_split_leakfree,q_sample_diverse,q_media_phash,q_embed_gram,q_ann_incremental,q_asof_plan,q_asof_split,q_corpus_e2e,q_dedup_clusters,q_dedup_minhash,q_dedup_spans,q_doc_assembly,q_heavy_hitters,q_hierarchy,q_mix_temperature,q_observations,q_pack_sequences,q_pipeline_e2e,q_salted_join,q_sessionize,q_shingle_clusters,q_window_range,q_media_pipeline,q_media_thumbs,q_token_bpe_dist,q_mannwhitney,q_fdr_bh,q_bloom_join,q_zorder,q_embed_robust,q_quality_model,q_cooccur_pmi,q_stream_window,q_stream_sessions,q_stream_interval,q_dedup_semantic,q_embed_pool,q_omero_manifest,q_batch_query,q_stream_asof,q_stream_dedup,q_dedup_incremental,q_curate_e2e,q_doc_tree,q_ingest_night,q_embed_project,q_ingest_neardup,q_approx_distinct,q_approx_distinct_sketch,q_approx_percentile,q_approx_percentile_sketch,q_hll_union,q_hll_union_sketch,q_train_classifier,q_pagerank,q_main_content,q_curate_incremental,q_train_langid,q_classifier_eval,q_bm25,q_langid_eval,q_dedup_containment,q_text_normalize,q_calibration,q_html_extract,q_dedup_substring,q_dedup_containment_pruned,q_bm25_table,q_pagerank_redist,q_langid_chargram,q_graph_bfs,q_hits,q_graph_triangles,q_bitext_mine,q_dedup_sentence,q_cdc_apply,q_url_dedup,q_anchor_text,q_stream_cdc,q_sft_format,q_dpo_pairs,q_retrieve_hybrid,q_cdc_ttl,q_sft_normalized

# q_curate_e2e's stage-5 token budget scales with the corpus factor
# (VERDICT r12 #4: the fixed 12k budget empties the manifest past ~x32,
# leaving the config-bounded tail stages degenerate at x100 — a real
# deployment sizes the budget with the corpus). Verify NEVER sees these
# (it fails fast if the var is set); sf0.1 (x1) stays at the
# oracle-checked default 12k.
BUDGET_X10=120000; BUDGET_X32=384000; BUDGET_X100=1200000
# ...and the stage-1 LM gate threshold needs per-corpus CALIBRATION at
# x100 (r13 measured the real cause of the degenerate x100 manifest:
# ScaleGen's perturbation bijections shift the per-doc surprisal
# distribution — median 29.6M ppm at x1, 30.5M at x10, ~33.3M p90 at
# x32 where the 35M default still keeps 95%, but 41.7M median /
# 45.0M p90 at x100 where the x1-calibrated 35M keeps ZERO docs). The
# x1 default is p90 x ~1.17 ("drop the junk tail"); 52M applies the
# same rule to x100's measured p90. x10/x32 keep the default.
KEEPPPM_X100=52000000

gen() { # factor
  if [ ! -d "target/scale/x$1" ]; then
    echo "== scalegen x$1"
    sbt -batch "runMain graft.ScaleGen $SF target/scale/x$1 $1" >/dev/null
  fi
}

bench() { # outfile sfdir [env...]
  local out=$1 dir=$2; shift 2
  if [ ! -f "target/$out" ]; then
    echo "== bench -> $out ($dir $*)"
    rm -f target/bench_full.json
    env SPARK_GRAFT_SF_DIR="$dir" "$@" sbt -batch "runMain graft.Bench" \
      2>&1 | grep -E '^\[bench\]|"metric"' || true
    # a driver-OOM run leaves no dump; record the absence, keep going
    # (scale_report surfaces the hole instead of the script dying)
    if [ -f target/bench_full.json ]; then mv target/bench_full.json "target/$out"
    else echo "!! $out: bench produced no dump (crashed?)"; fi
  fi
}

# per-TIER crash-proofing (VERDICT r16 #1, two rounds running: a
# campaign that dies late must never again orphan completed tiers in
# target/): each merged tier artifact is copied into scale_partial/
# and COMMITTED the moment it exists. scale_partial/ is the audit
# trail; the final gated SCALE_rN.json supersedes it for grading.
commit_tier() { # file label
  mkdir -p scale_partial
  cp "target/$1" "scale_partial/$1" 2>/dev/null || return 0
  git add scale_partial/"$1" >/dev/null 2>&1 || true
  git diff --cached --quiet 2>/dev/null || \
    git commit -q -m "Scale campaign partial: $2" || true
}

gen 10; gen 32; gen 100

# oracle SQL dump for the gate's rule-0 adjudication: scale_report runs
# a flagged query's own DuckDB oracle ON the scaled corpus to decide
# whether zero output is drift or the corpus's truth (measured r9:
# ScaleGen's perturbed documents legitimately empty q_heavy_hitters)
if [ ! -f target/oracle_sql.json ]; then
  echo "== oracle sql dump"
  sbt -batch "runMain graft.Verify $SF target/oracle_dump __none__" >/dev/null 2>&1 || true
  # the adjudication is OPTIONAL (oracle_rows_at returns None and keeps
  # the rule-0 flag when the dump is absent) — a failed dump must not
  # abort the whole scale workflow under set -e
  if [ -f target/oracle_dump/oracle_sql.json ]; then
    cp target/oracle_dump/oracle_sql.json target/oracle_sql.json
  else
    echo "!! oracle dump unavailable; rule-0 flags stay gating"
  fi
fi

# full suite at x1 (sf0.1 itself) and x10
bench full_x1.json "$SF"
bench full_x10.json target/scale/x10 SPARK_GRAFT_CURATE_BUDGET=$BUDGET_X10

# core family x1/x10 are FILTERED from the full runs (same harness,
# same numbers); x32/x100 run the family directly. x100 runs at
# shuffle.partitions=128 — the deployment knob scales with data
# (SCALE_r14 partitions_matrix measured that knob in isolation).
# r17 DELTA: the full_x1/x10 dumps are REUSED from the r16-session-2
# campaign (identical code for those queries); the queries whose plans
# changed this round (BFS merge-form, URL userinfo fold, SFT tie-break,
# the de-Expanded approx_distinct twin) and the three NEW c9 queries
# re-bench here and OVERRIDE the full-dump rows in the merged tiers —
# fresh evidence where code moved, without re-paying the ~200
# unchanged queries twice (BENCH_LOCAL re-captures the full suite).
DELTA=q_graph_bfs,q_url_dedup,q_sft_format,q_approx_distinct,q_retrieve_hybrid,q_cdc_ttl,q_sft_normalized
bench delta_x1.json "$SF" SPARK_GRAFT_ONLY=$DELTA
bench delta_x10.json target/scale/x10 SPARK_GRAFT_ONLY=$DELTA
python3 - <<'EOF'
import json
core = set(open('tools/run_scale.sh').read().split('CORE=')[1].split()[0].split(','))
for f in (1, 10):
    d = json.load(open(f'target/full_x{f}.json'))
    try:
        d['queries'].update(json.load(open(f'target/delta_x{f}.json'))['queries'])
    except FileNotFoundError:
        pass
    d['queries'] = {k: v for k, v in d['queries'].items() if k in core}
    json.dump(d, open(f'target/scale_x{f}.json', 'w'))
EOF
commit_tier scale_x1.json "x1 tier (full_x1 + r17 delta)"
commit_tier scale_x10.json "x10 tier (full_x10 + r17 delta)"
# x32 runs at 64 initial shuffle partitions: the deployment contract
# (GraftSession scaladoc) scales partitions with data so per-task
# state stays flat — the r8 testdata regeneration deepened the
# ancestor-array workload enough that 32 partitions OOM a task at x32
# (SCALE_r14 partitions_matrix measured that boundary directly).
# x32 runs the family in the SAME fresh-JVM chunks as x100: r13
# measured the single-JVM 51-query x32 run OOMing a task at the START
# OF PASS 2 (q_ancestor_arrays, after a clean full first pass) — the
# accumulated old-gen/codegen pressure class that sent x100 to chunks
# in r9 reaches x32 once the corpus-scaled curate budget retains its
# bigger localCheckpoints. FOUR chunks since the r13 x100 run: c4
# isolates the budget-scaled q_curate_e2e (+ the cheap DAG/projection
# tail) in its own JVM — sharing it with the stateful stream queries
# OOM'd q_stream_sessions at x100. Chunks merge hole-tolerantly (a
# crashed chunk surfaces through the missing-query gate, never a
# set -e abort).
# r14: a FIFTH chunk carries the ingest-neardup ladder row and the
# certified-vs-sketch-alone trio (VERDICT r13 #1/#5) so they never
# share a JVM with the budget-scaled curate flagship
CHUNK_C1=$(echo "$CORE" | cut -d, -f1-16)
CHUNK_C2=$(echo "$CORE" | cut -d, -f17-32)
CHUNK_C3=$(echo "$CORE" | cut -d, -f33-47)
CHUNK_C4=$(echo "$CORE" | cut -d, -f48-51)
CHUNK_C5=$(echo "$CORE" | cut -d, -f52-58)
# r15: a SIXTH chunk carries the round's new ladder rows (classifier
# training + multiclass/eval, pagerank, main-content, BM25, the
# incremental-curate DAG) — the curate DAG writes eight parquet
# targets and must not share a JVM with the budget-scaled flagship or
# the stateful streams
CHUNK_C6=$(echo "$CORE" | cut -d, -f59-66)
# r16: a SEVENTH chunk carries the r16 ladder rows plus the three
# r15 queries the verdict flagged with zero scale evidence at any
# factor (q_dedup_containment / q_text_normalize / q_calibration)
CHUNK_C7=$(echo "$CORE" | cut -d, -f67-75)
# r16 session 2: an EIGHTH chunk carries this session's 11 new ladder
# rows (graph trio, bitext mining, sentence/url dedup, CDC batch +
# stream, anchor text, SFT/DPO prep) — fresh JVM like every chunk
CHUNK_C8=$(echo "$CORE" | cut -d, -f76-86)
# r17: a NINTH chunk carries this round's new ladder rows (hybrid RRF
# retrieval, CDC tombstone TTL, normalized SFT render)
CHUNK_C9=$(echo "$CORE" | cut -d, -f87-)
i=1
for chunk in "$CHUNK_C1" "$CHUNK_C2" "$CHUNK_C3" "$CHUNK_C4" "$CHUNK_C5" "$CHUNK_C6" "$CHUNK_C7" "$CHUNK_C8" "$CHUNK_C9"; do
  bench scale_x32_c$i.json target/scale/x32 SPARK_GRAFT_ONLY=$chunk \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=64 SPARK_GRAFT_STREAM_PARTITIONS=16 \
    SPARK_GRAFT_CURATE_BUDGET=$BUDGET_X32
  i=$((i+1))
done
rm -f target/scale_x32.json
python3 - <<'EOF'
import json
qs = {}
for i in (1, 2, 3, 4, 5, 6, 7, 8, 9):
    try:
        qs.update(json.load(open(f'target/scale_x32_c{i}.json'))['queries'])
    except FileNotFoundError:
        pass
if qs:
    json.dump({"queries": qs, "sf": "target/scale/x32"},
              open('target/scale_x32.json', 'w'))
EOF
commit_tier scale_x32.json "x32 tier (9 fresh-JVM chunks)"
# x100 runs the family in the same FOUR fresh-JVM chunks (r9: a
# single-JVM x100 run wedges or OOMs by the second pass; r13: even a
# 19-query chunk OOM'd once the corpus-scaled curate budget shared a
# JVM with the stateful stream queries — c4 isolates it).
# r16: c1 splits at x100 — q_ancestor_arrays OOM'd a task at p128
# inside the 16-query c1 JVM (its per-task ancestor-array volume is
# total/partitions; SCALE_r14 partitions_matrix measured exactly this
# boundary). It runs ALONE at p256, the knob's own measured relief
# point; the other 15 queries keep the fleet-standard p128.
bench scale_x100_c1a.json target/scale/x100 SPARK_GRAFT_ONLY=q_ancestor_arrays \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=256 SPARK_GRAFT_STREAM_PARTITIONS=32 \
  SPARK_GRAFT_CURATE_BUDGET=$BUDGET_X100 SPARK_GRAFT_CURATE_KEEPPPM=$KEEPPPM_X100
CHUNK_C1B=$(echo "$CHUNK_C1" | sed 's/q_ancestor_arrays,//')
bench scale_x100_c1b.json target/scale/x100 SPARK_GRAFT_ONLY=$CHUNK_C1B \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=128 SPARK_GRAFT_STREAM_PARTITIONS=32 \
  SPARK_GRAFT_CURATE_BUDGET=$BUDGET_X100 SPARK_GRAFT_CURATE_KEEPPPM=$KEEPPPM_X100
# r17: chunk ORDER puts c8/c9 (the session-2 + r17 ladder rows — the
# round's highest-value missing evidence) ahead of the c2-c7 re-runs
# whose numbers SCALE_r16 already certified on identical code, and the
# tier runs SINGLE-ITERATION (SPARK_GRAFT_ITERS=1): x100 runs are
# minutes-long so contention noise amortizes, x1 keeps min-of-2 so the
# growth ratios read conservatively high, and the halved wall-clock is
# what fits the whole tier plus the new chunks inside one session.
merge_x100() {
  rm -f target/scale_x100.json
  python3 - <<'EOF'
import json
qs = {}
for i in ('1a', '1b', 2, 3, 4, 5, 6, 7, 8, 9):
    try:
        qs.update(json.load(open(f'target/scale_x100_c{i}.json'))['queries'])
    except FileNotFoundError:
        pass
if qs:
    json.dump({"queries": qs, "sf": "target/scale/x100"},
              open('target/scale_x100.json', 'w'))
EOF
  commit_tier scale_x100.json "x100 tier ($1)"
}
for pair in "8:$CHUNK_C8" "9:$CHUNK_C9" "2:$CHUNK_C2" "3:$CHUNK_C3" "4:$CHUNK_C4" "5:$CHUNK_C5" "6:$CHUNK_C6" "7:$CHUNK_C7"; do
  i=${pair%%:*}; chunk=${pair#*:}
  bench scale_x100_c$i.json target/scale/x100 SPARK_GRAFT_ONLY=$chunk \
    SPARK_GRAFT_ITERS=1 \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=128 SPARK_GRAFT_STREAM_PARTITIONS=32 \
    SPARK_GRAFT_CURATE_BUDGET=$BUDGET_X100 SPARK_GRAFT_CURATE_KEEPPPM=$KEEPPPM_X100
  merge_x100 "through chunk c$i"
done
# assemble + gate LAST, then refuse success unless the merged artifact
# at the repo root is NEWER than every dump it folds (the r11/r12
# sequencing defect: the end-of-round snapshot committed while the
# campaign was still writing dumps, so the artifact the SURVEY cited
# never reached git — this gate makes that impossible to repeat
# silently)
python3 tools/scale_report.py "$OUT"
stale=$(find target -maxdepth 1 -name '*.json' -newer "$OUT" | sort)
if [ -n "$stale" ]; then
  echo "!! $OUT is OLDER than these dumps it should fold:"; echo "$stale"
  echo "!! re-run tools/scale_report.py $OUT (and COMMIT the result)"
  exit 1
fi
echo "== $OUT assembled, gated, and newer than every dump — COMMIT IT"
