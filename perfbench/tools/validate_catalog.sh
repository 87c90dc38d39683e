#!/usr/bin/env bash
# Checks the committed catalog_mix digests row by row against the queries'
# DuckDB twins, on the benchmark's own generated fixture.
#
#   bash perfbench/tools/validate_catalog.sh [bench|smoke]
#
# 1. exports the generated fixture tables as flat parquet files;
# 2. runs graft.Verify over them for the catalog_mix queries (result dumps
#    plus the oracle SQL);
# 3. compares every dump with its DuckDB twin through the repository's oracle
#    compare (.claude/skills/verify/check.py, needs the duckdb Python module)
#    and expects "FAILS: 0";
# 4. digests every dump and compares it with perfbench/expected.
# Run from the root of the repository after one `perfbench/run.py` build.
set -euo pipefail
scale="${1:-bench}"
out=".bench_build/perfbench/validate-$scale"
cp="$(cat perfbench/target/runtime-classpath.txt)"
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
jvm=(java "${opens[@]}" -Xmx3g -Dlog4j2.configurationFile=perfbench/log4j2.properties -cp "$cp")
queries="$(grep -v '^#' "perfbench/expected/catalog_mix-$scale.txt" | awk '{print $1}' | paste -sd, -)"

rm -rf "$out"
"${jvm[@]}" graftbench.Main --workload catalog_mix --scale "$scale" --export-fixture "$out/fixture"
SPARK_GRAFT_CPUS=4 "${jvm[@]}" graft.Verify "$out/fixture" "$out/verify" "$queries"
python3 .claude/skills/verify/check.py "$out/fixture" "$out/verify" ${queries//,/ } | tee "$out/check.txt"
grep -q '^FAILS: 0$' "$out/check.txt"
"${jvm[@]}" graftbench.Main --workload catalog_mix --scale "$scale" --digest-dumps "$out/verify"
