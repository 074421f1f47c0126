#!/bin/bash
# One entry point for graft's captures: scale-up data, Bench artifacts
# behind the idle and clean gates, and any main against the compiled
# classes. Every subcommand launches java the way build.sbt does.
#
#   scripts/capture.sh gen OUT FACTOR MODE MEM
#       GenScale of Bench's default sf dir into OUT; skipped when
#       OUT/.done exists.
#   scripts/capture.sh bench NAME CLASSES SFDIR SUBSET MEM RUNS [VAR=val...]
#       graft.Bench from the CLASSES dir into $OUT/NAME.json (SUBSET is
#       SPARK_GRAFT_ONLY, "" for the full suite); skipped when that
#       artifact is already clean, otherwise waits for the idle gate and
#       exits with `clean`'s verdict on the new artifact.
#   scripts/capture.sh main CLASS [ARGS...]
#       any main against target/scala-2.13/classes ($SPARK_DRIVER_MEM,
#       default 8g).
#   scripts/capture.sh clean FILE
#       exit 0 only when FILE's first 160 bytes carry both
#       "n_errors":0 and "degraded":false.
#
# Env: OUT (artifact dir, default the repo root), SPARK_GRAFT_LOAD_LIMIT
# (idle gate, default 8), SPARK_DRIVER_MEM (for `main`). Logs go to
# /tmp/{gen,bench}_NAME.log.
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OUT="${OUT:-$ROOT}"
# the Spark jars build.sbt compiles against
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"

launch() { # classes mem class args...
  local cp="$1" mem="$2"; shift 2
  local opens=()
  for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
           java.nio java.util java.util.concurrent java.util.concurrent.atomic \
           sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
    opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
  done
  java -Xmx"$mem" "${opens[@]}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Duser.language=en -Duser.country=US \
    -cp "$cp:$JARS/*" "$@"
}

clean() {
  local head
  [ -f "$1" ] && head=$(head -c 160 "$1") \
    && [[ $head == *'"n_errors":0'* && $head == *'"degraded":false'* ]]
}

wait_idle() {
  local limit="${SPARK_GRAFT_LOAD_LIMIT:-8}" l
  while :; do
    l=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$l" -v lim="$limit" 'BEGIN{exit !(l < lim)}' && return
    echo "    (load $l >= $limit, cooling down)"
    sleep 20
  done
}

usage() {
  sed -n '2,/^set -euo/p' "$0" | sed '$d' >&2
  exit 2
}

[ $# -ge 1 ] || usage
cmd="$1"; shift
case "$cmd" in
  gen)
    [ $# -eq 4 ] || usage
    out="$1" factor="$2" mode="$3" mem="$4"
    if [ -f "$out/.done" ]; then echo "=== $out exists, skipping ==="; exit 0; fi
    src="$(sed -n 's/.*"SPARK_GRAFT_SF_DIR", "\([^"]*\)".*/\1/p' \
      "$ROOT/src/main/scala/graft/Bench.scala")"
    echo "=== gen $out (factor $factor, $mode, from $src) ==="
    launch "$ROOT/target/scala-2.13/classes" "$mem" graft.tools.GenScale \
      "$src" "$out" "$factor" "$mode" > "/tmp/gen_$(basename "$out").log" 2>&1
    touch "$out/.done"
    echo "--- $out done"
    ;;
  bench)
    [ $# -ge 6 ] || usage
    name="$1" cp="$2" sfdir="$3" subset="$4" mem="$5" runs="$6"; shift 6
    art="$OUT/$name.json"
    mkdir -p "$OUT"
    if clean "$art"; then echo "=== $name clean, skipping ==="; exit 0; fi
    wait_idle
    echo "=== bench $name ($sfdir runs=$runs $*) ==="
    (export "$@" SPARK_GRAFT_SF_DIR="$sfdir" ${subset:+SPARK_GRAFT_ONLY="$subset"} \
      SPARK_GRAFT_RUNS="$runs" SPARK_GRAFT_BENCH_OUT="$art"
     launch "$cp" "$mem" graft.Bench) > "/tmp/bench_$name.log" 2>&1
    echo "--- $name done: $(head -c 300 "$art")"
    clean "$art" || { echo "--- $name is DIRTY (see /tmp/bench_$name.log)" >&2; exit 1; }
    ;;
  main)
    [ $# -ge 1 ] || usage
    launch "$ROOT/target/scala-2.13/classes" "${SPARK_DRIVER_MEM:-8g}" "$@"
    ;;
  clean)
    [ $# -eq 1 ] || usage
    clean "$1"
    ;;
  *) usage ;;
esac
