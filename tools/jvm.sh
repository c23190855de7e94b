# Sourced by the tools/ launchers (run from the repo root): sets CP, the
# classpath for running a compiled graft main with a plain `java`, and
# OPENS, the JDK 17 --add-opens list Spark needs outside spark-submit
# (the list build.sbt gives forked runs).
CP="target/scala-2.13/classes:$(ls "${SPARK_HOME:?SPARK_HOME must name the Spark install}"/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
