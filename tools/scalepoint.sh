#!/bin/bash
# One scale point of the record, every leg from one binary:
#
#   tools/scalepoint.sh <sfDir> <label> [classesDir]
#   python3 tools/merge_scalepoint.py <label>
#
# <sfDir> is a base testdata dir (GenScale never chains replicas: see
# its scaladoc). Outputs go to localdata/scalepoint/<label>/; a leg whose
# output is already there is skipped, so a cut run resumes where it
# stopped. Legs, in order:
#   1. GenScale <sfDir> x10 -> x10/, checked by tools/check_scale.py
#   2. graft.Bench on <sfDir> (stdout line bench.json, full record
#      bench_full.json)
#   3. graft.Verify on <sfDir>, then tools/check_oracle.py in crash-
#      isolated batches (light bulk, IVF groups, heavy replays one at a
#      time) -> oracle_*.json; merge_scalepoint.py checks and merges them
#   4. ScaleProbe and CdcProbe on <sfDir> and on x10/ (the fixed-delta
#      curve is the ratio of the two rows)
#   5. ShardScaleProbe over as many vectors as x10/ has embeddings
# [classesDir] defaults to sbt's target/scala-2.13/classes (run
# `sbt compile` first). The JVM heap is SPARK_DRIVER_MEM (default 8g),
# as for sbt's forked runs; check_oracle.py's ORACLE_* caps pass through.
set -u
[ $# -ge 2 ] || { echo "usage: $0 <sfDir> <label> [classesDir]"; exit 2; }
cd "$(dirname "$0")/.." || exit 1
ROOT=$(pwd)
SF=$(cd "$1" && pwd) || { echo "no sf dir: $1"; exit 1; }
OUT="$ROOT/localdata/scalepoint/$2"
CLASSES=$(cd "${3:-target/scala-2.13/classes}" && pwd) \
  || { echo "no classes dir: ${3:-target/scala-2.13/classes}"; exit 1; }
JARS="${SPARK_HOME:-/opt/spark}/jars"
mkdir -p "$OUT"
[ -f "$OUT/PROVENANCE" ] || printf 'commit %s%s\nclasses %s\nsf %s\nstarted %s\n' \
  "$(git rev-parse HEAD)" "$(git diff --quiet HEAD -- src || echo ' +dirty src')" \
  "$CLASSES" "$SF" "$(date -u +%FT%TZ)" > "$OUT/PROVENANCE"

ADDOPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
J() { # main + args
  java -Xmx"${SPARK_DRIVER_MEM:-8g}" "${ADDOPENS[@]}" \
    -cp "$CLASSES:$JARS/*" "$@"
}
leg() { echo "=== $(date -u +%T) $*"; }

if [ ! -f "$OUT/check_scale.txt" ]; then
  leg "1/5 GenScale x10"
  rm -rf "$OUT/x10"
  J graft.tools.GenScale "$SF" "$OUT/x10" 10 \
    && python3 tools/check_scale.py "$SF" "$OUT/x10" 10 \
      > "$OUT/check_scale.tmp" \
    && mv "$OUT/check_scale.tmp" "$OUT/check_scale.txt"
  leg "genscale rc=$?"
fi

if [ ! -f "$OUT/bench.json" ]; then
  leg "2/5 Bench"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_OUT="$OUT/bench_full.json" \
    J graft.Bench > "$OUT/bench.tmp" 2> "$OUT/bench.err" \
    && mv "$OUT/bench.tmp" "$OUT/bench.json"
  leg "bench rc=$?"
fi

if [ ! -f "$OUT/verify/oracle_sql.json" ]; then
  leg "3/5 Verify"
  rm -rf "$OUT/verify"
  J graft.Verify "$SF" "$OUT/verify" 2> "$OUT/verify.err"
  leg "verify rc=$? ($(grep -c '\[verify\].*failed' "$OUT/verify.err") failed)"
fi

# Oracle replay plan: the light queries in one bulk pass; the IVF
# family in groups (each group replays a trained-centroid assignment);
# the heavy replays one at a time. DuckDB's spill dir (.tmp under the
# working dir) is wiped before each batch.
HEAVY="dedup_containment dedup_simhash dedup_clusters pipeline_dedup_apply \
pipeline_pack_sequences join_range join_asof_tolerance \
pipeline_semantic_decontaminate sim_knn_join_cell sim_hybrid_search \
text_substring_dedup text_bigram_lm text_cooccur_pmi mm_feature_extract \
mm_batch_embed mm_feature_extract_rgb mm_batch_embed_rgb \
pipeline_distill_build"
IVF="sim_ann_ivf,sim_ann_ivf_trained,sim_ann_ivf_indexed,sim_ann_ivf_append \
sim_ann_ivf_compact,sim_ann_ivf_pq,sim_ann_ivf_pq_append,sim_ann_ivf_pq_refined \
sim_stream_ivf_ingest,sim_stream_ivf_maintain,sim_ann_ivf_sq8,sim_ann_ivf_sq8_append \
sim_stream_sq8_ingest,sim_stream_pq_ingest \
sim_ann_ivf_sharded"
export ORACLE_TIMEOUT_SEC="${ORACLE_TIMEOUT_SEC:-2400}"
oracle() { # name, then ORACLE_ONLY / ORACLE_SKIP assignment
  [ -f "$OUT/oracle_$1.json" ] && return
  rm -rf "$OUT/oracle_tmp" && mkdir -p "$OUT/oracle_tmp"
  leg "oracle $1"
  (cd "$OUT/oracle_tmp" && env "$2" python3 "$ROOT/tools/check_oracle.py" \
    "$SF" "$OUT/verify" "$OUT/oracle_$1.json" > "$OUT/oracle_$1.log" 2>&1)
  leg "oracle $1 rc=$? $(tail -1 "$OUT/oracle_$1.log")"
}
if [ -f "$OUT/verify/oracle_sql.json" ]; then
  oracle bulk "ORACLE_SKIP=$(echo $HEAVY $IVF | tr ' ' ',')"
  i=1
  for batch in $IVF; do oracle "ivf$i" "ORACLE_ONLY=$batch"; i=$((i+1)); done
  for q in $HEAVY; do oracle "$q" "ORACLE_ONLY=$q"; done
  rm -rf "$OUT/oracle_tmp"
fi

leg "4/5 ScaleProbe, CdcProbe"
for point in base x10; do
  dir="$SF"; [ $point = x10 ] && dir="$OUT/x10"
  for probe in ScaleProbe CdcProbe; do
    f="$OUT/$(echo $probe | tr 'A-Z' 'a-z')_$point.json"
    [ -s "$f" ] && continue
    J "graft.tools.$probe" "$dir" "$2-$point" > "$f" 2> "${f%.json}.err"
    leg "$probe $point rc=$?"
  done
done

if [ ! -s "$OUT/shardscaleprobe.json" ]; then
  N=$(python3 -c "import duckdb,sys; print(duckdb.sql(
    \"select count(*) from '$OUT/x10/embeddings.parquet/*.parquet'\").fetchone()[0])")
  leg "5/5 ShardScaleProbe n=$N"
  J graft.tools.ShardScaleProbe "$N" 64 $(( N / 1024 > 2 ? N / 1024 : 2 )) 32 \
    > "$OUT/shardscaleprobe.json" 2> "$OUT/shardscaleprobe.err"
  leg "shardscaleprobe rc=$?"
fi
rm -rf /tmp/graft_shardprobe_* /tmp/graft_cdcprobe_* /tmp/graft_scaleprobe_*
leg "done: python3 tools/merge_scalepoint.py $2"
