"""The benchmark's JVM command line: Spark 4 on JDK 17 outside
spark-submit needs these module openings, and every scratch directory the
JVM and Spark use is placed under the run's work directory."""
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def command(classpath, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file outside the work directory
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join(classpath), main, *args]
