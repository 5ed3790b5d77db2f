#!/bin/bash
# Fast local correctness loop: compile once via sbt, then run Verify
# directly on the JVM and diff against DuckDB with scripts/check.py.
set -e
cd /root/repo
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT"
python3 scripts/check.py "$SF_DIR" "$OUT"
# Second pass: replay the scale-digest oracle forms for the queries
# that carry them (GRAFT_SCALE_ORACLES_ONLY restricts the compare to
# those), so the digest logic is proven against fully-verified output
# at every gate SF — a digest-form edit that drifts from its primary
# oracle fails HERE, not on the next sf1 board.
if [ -f "$OUT/scale_oracle_sql.json" ]; then
  echo "---- scale-digest pass ----"
  GRAFT_SCALE_ORACLES_ONLY=1 python3 scripts/check.py "$SF_DIR" "$OUT"
fi
