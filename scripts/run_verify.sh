#!/bin/bash
# Local verify+selfcheck loop: scripts/run_verify.sh <sfDir> [query ...]
set -e
SF=$1; shift
OUT=/tmp/verify_out
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# Verify's stderr (Spark logs, "[verify] <name> failed" lines) is kept
# beside the results; each failure also has its <name>.failed.json there
mkdir -p "$OUT"
java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Verify "$SF" "$OUT" "$@" 2>"$OUT/verify.log" | tail -2
python3 scripts/selfcheck.py "$SF" "$OUT" "$@"
