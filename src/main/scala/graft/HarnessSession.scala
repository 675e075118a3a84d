package graft

import org.apache.spark.sql.SparkSession

/** Session construction shared by every main in `src/main` (Verify,
  * Bench, PlanProbe, ZipfProbe and the `graft.examples` mains) and by
  * perfbench. A main that serves concurrent queries adds FAIR
  * scheduling on top.
  *
  * `SPARK_GRAFT_MASTER` overrides the default `local[cpus]` — the
  * multi-JVM gate runs the whole correctness suite under
  * `local-cluster[2,8,4096]` (2 separate executor JVMs on this machine,
  * launched from SPARK_HOME), the one execution axis `local[*]`
  * structurally cannot test: executor loss, lineage recompute,
  * off-driver classpath/serialization, and the Materialize barrier's
  * reliable-checkpoint arm all only exist when executors are not the
  * driver.
  *
  * On a non-local master the builder additionally ships this JVM's
  * classpath to the executors (same-machine executors can read it
  * directly — a real multi-node deployment submits a jar instead),
  * mirrors the JDK-17 --add-opens list (spark-submit injects these;
  * sbt-forked drivers must pass them along for the executor JVMs), and
  * turns on checkpoint-file cleanup so the reliable barriers don't
  * accumulate files across a 178-query suite run.
  */
object HarnessSession {

  /** JDK-17 module opens Spark needs; matches build.sbt / the launcher's
    * JavaModuleOptions.defaultModuleOptions(). */
  private val Jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** `SPARK_GRAFT_CPUS`, else every core (at least 4): the `local[n]`
    * width and shuffle-partition count of the entry-point mains. */
  private def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.max(4, Runtime.getRuntime.availableProcessors).toString)

  def builder(cpus: String = defaultCpus): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The inventory is ~180 distinct plans with several whole-stage
      // codegen units each; Spark's compiled-class cache holds 100
      // entries by default, so a multi-query session (the bench's
      // round-robin, the serving facade's query mix) evicts everything
      // between repeats and pays Janino compilation on EVERY execution
      // (~0.1-1 s/query, measured: isolated reruns beat the round-robin
      // bench by exactly that tier). Scale-independent JVM-cache sizing,
      // not a data-size tunable; bounded by class count, not data.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // file modes set through java.nio, not a chmod process per file
      .config(graft.catalog.NioLocalFileSystem.sparkConf)
    val isLocal = master == "local" || master.startsWith("local[")
    if (!isLocal) {
      b.config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions", Jdk17AddOpens)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    }
    b
  }
}
