#!/usr/bin/env bash
# Regenerate PLANS.md from the current code (run after sbt compile).
# Pins the physical plan of EVERY declared query (r19: the list is derived
# from SparkEntry at runtime, so it can never rot or under-cover the
# >=0.5s-median bench slice — PlanSpec asserts a section per query).
# The plans are written to a temporary file first; PLANS.md is replaced only
# when every query has its section and no section holds exception text, and
# the script exits non-zero otherwise.
set -euo pipefail
cd "$(dirname "$0")/.."
classes=target/scala-2.13/classes
if [ ! -f "$classes/graft/SparkEntry.class" ]; then
  echo "gen_plans.sh: $classes has no compiled classes; run sbt compile first" >&2
  exit 1
fi
# sbt compile does not copy src/main/resources into $classes, and without its
# META-INF/services entry format("graft-events") does not resolve: put the
# resource directory itself on the class path
classpath="$classes:src/main/resources"

tmp="PLANS.md.tmp.$$"
trap 'rm -f "$tmp"' EXIT
{
echo '# PLANS — physical plans of ALL queries (sf0.01, local[4], AQE on)'
echo
echo 'Generated by scripts/gen_plans.sh from `df.explain("formatted")`. What to'
echo 'look for: PushedFilters + pruned ReadSchema at every scan,'
echo 'BroadcastHashJoin for star dims, TakeOrderedAndProject for top-N (no'
echo 'global sort), partial+final HashAggregate pairs, and single-shuffle'
echo 'bucket-grouped pair generation for the LSH/shingle dedup family (no'
echo 'self-joins: candidates come from one groupBy on the collision key).'
echo '
import graft._
val spark = Tables.localSession("plans", "4")
val dir = "/root/testdata/sf0.01"
graft.operators.SourceQueries.logDirFor(spark, dir)
println("<<<QUERIES " + SparkEntry.queries.size + ">>>")
for (q <- SparkEntry.queries.keys.toSeq.sorted) {
  println("<<<SECTION " + q + ">>>")
  println("```")
  println(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
  println("```")
}
' | GRAFT_NO_ARTIFACT_CACHE=1 /opt/spark/bin/spark-shell --master "local[4]" \
  --driver-class-path "$classpath" \
  --conf spark.ui.enabled=false --conf spark.sql.session.timeZone=UTC \
  --driver-memory 4g 2>/dev/null \
  | sed -n '/<<<QUERIES /,$p' \
  | sed -E -e 's/^(scala> )?<<<QUERIES (.*)>>>$/<<<QUERIES \2>>>/' -e 's/^(scala> )?<<<SECTION (.*)>>>$/\n## \2\n/' \
  | sed '/^scala>/d'
} > "$tmp"

expected=$(sed -n -E 's/^<<<QUERIES ([0-9]+)>>>$/\1/p' "$tmp")
sections=$(grep -c '^## ' "$tmp" || true)
# a REPL error or an exception's stack trace, not plan text
errors=$(grep -n -E '(Exception|Error)(:|$)|^[[:space:]]+at [[:alnum:]_.$]+\(|^[[:space:]]*error:' "$tmp" | head -5 || true)
if [ -z "$expected" ] || [ "$sections" -ne "$expected" ] || [ -n "$errors" ]; then
  echo "gen_plans.sh: PLANS.md left unchanged: ${sections} sections for ${expected:-an unknown number of} queries" >&2
  [ -n "$errors" ] && printf 'exception text in the plans:\n%s\n' "$errors" >&2
  exit 1
fi
sed -i '/^<<<QUERIES /d' "$tmp"
mv "$tmp" PLANS.md
echo "wrote PLANS.md ($(wc -l < PLANS.md) lines, $sections sections)"
