package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level hygiene gates enforced as tests, not round notes.
  *
  * Every custom Catalyst expression in this engine implements
  * `doGenCode` — an interpreted `CodegenFallback` in a hot path breaks
  * whole-stage codegen for the entire stage containing it, which is a
  * silent 2-10× regression at 100 TB. The grep lives here so a future
  * expression can't quietly take the fallback shortcut.
  *
  * Every `def main` entry point is named in README.md, so one-off
  * probe mains cannot pile up unlisted.
  *
  * Parquet footers open with read options built from the caller's
  * Hadoop conf, never through the overload that parses a new one.
  *
  * The result writers of `graft.query` fetch partitions through the one
  * wave loop in `RowCodec`, so none of them can drift to its own.
  *
  * Parquet is read only through `ParquetRead`, which takes the schema
  * from the footers on the driver instead of a Spark inference job, and
  * which also holds the parquet-mr column read that merges a small
  * compaction on the driver with no Spark job at all.
  *
  * Every operator object in `graft.streaming` and `graft.operators` is
  * called from `src/main` outside its own file, so an operator whose
  * only caller is its spec cannot pile up.
  *
  * No parameter lets a caller force an operator's arm: operators pick
  * their arm from the input alone, and specs call each arm by name.
  *
  * Each lifecycle job step has one caller outside `graft.examples`: the
  * server's job body that both its HTTP route and the lifecycle tick
  * run. `graft.jobs` holds no sleeping scheduler loop of its own.
  *
  * Every HTTP route is a row of the server's one route table, which
  * declares its permission; one dispatcher reads the exchange's method
  * and matches it.
  *
  * Optimizer rules reach a session through the one installer,
  * `OptimizerRules.install`, so every session gets every rule in order.
  *
  * There is one buffered ingester: only `Wal.scala` opens a WAL writer
  * or replays a WAL, and the MQTT client writes no Parquet of its own.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  test("zero CodegenFallback in src/main (every Expression has doGenCode)") {
    val offenders = mainSources.filter { p =>
      new String(Files.readAllBytes(p)).contains("CodegenFallback")
    }
    assert(offenders.isEmpty,
      s"CodegenFallback found in: ${offenders.mkString(", ")} — implement doGenCode instead")
  }

  test("no ??? / TODO / FIXME stubs in src/main") {
    val offenders = mainSources.filter { p =>
      val s = new String(Files.readAllBytes(p))
      s.contains("???") || s.contains("TODO") || s.contains("FIXME")
    }
    assert(offenders.isEmpty,
      s"stub markers found in: ${offenders.mkString(", ")}")
  }

  test("no single-argument ParquetFileReader.open in src/main") {
    // open(InputFile) builds a fresh Hadoop Configuration per call and
    // re-parses its XML defaults for every footer; pass read options
    // built from the caller's conf instead
    val call = "ParquetFileReader.open("
    val offenders = mainSources.flatMap { p =>
      val s = new String(Files.readAllBytes(p))
      Iterator.iterate(s.indexOf(call))(i => s.indexOf(call, i + 1))
        .takeWhile(_ >= 0)
        .filter { at =>
          // one argument: no comma at the call's own nesting level
          var i = at + call.length
          var depth = 1
          var comma = false
          while (depth > 0 && i < s.length) {
            s(i) match {
              case '(' | '[' | '{' => depth += 1
              case ')' | ']' | '}' => depth -= 1
              case ',' if depth == 1 => comma = true
              case _ =>
            }
            i += 1
          }
          !comma
        }
        .map(at => s"$p:${s.take(at).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty,
      s"single-argument ParquetFileReader.open at: ${offenders.mkString(", ")}")
  }

  /** Names of the calls chained after `from`: for `.a(x)\n  .b.c(y)`
    * that is a, b, c. Arguments directly at `from` are skipped. */
  private def chainedCalls(s: String, from: Int): Seq[String] = {
    var i = from
    def skipSpace(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def skipArgs(): Unit = if (i < s.length && s(i) == '(') {
      var depth = 0
      do {
        if (s(i) == '(') depth += 1 else if (s(i) == ')') depth -= 1
        i += 1
      } while (depth > 0 && i < s.length)
    }
    val calls = Seq.newBuilder[String]
    skipArgs()
    skipSpace()
    while (i < s.length && s(i) == '.') {
      val start = i + 1
      i = start
      while (i < s.length && s(i).isLetterOrDigit) i += 1
      calls += s.substring(start, i)
      skipSpace()
      skipArgs()
      skipSpace()
    }
    calls.result()
  }

  test("Parquet is read, and mergeSchema set, only inside ParquetRead") {
    // a `.read … .parquet(` chain without a schema infers it in a Spark
    // job; ParquetRead reads it from the footers on the driver
    val home = Paths.get("src/main/scala/graft/catalog/ParquetRead.scala")
    val offenders = mainSources.filterNot(_ == home).flatMap { p =>
      val s = new String(Files.readAllBytes(p))
      val reads = "\\.read\\b".r.findAllMatchIn(s).map(_.end)
        .filter(chainedCalls(s, _).contains("parquet"))
      val merges = "\"mergeSchema\"".r.findAllMatchIn(s).map(_.start)
      (reads ++ merges).map(at => s"$p:${s.take(at).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty,
      s"Parquet read outside ParquetRead at: ${offenders.mkString(", ")}")
  }

  test("runJob( appears in graft.query only inside RowCodec") {
    val query = Paths.get("src/main/scala/graft/query")
    val offenders = mainSources.filter { p =>
      p.startsWith(query) && p.getFileName.toString != "RowCodec.scala" &&
        new String(Files.readAllBytes(p)).contains("runJob(")
    }
    assert(offenders.isEmpty,
      s"runJob( outside RowCodec in: ${offenders.mkString(", ")} — " +
        "stream partitions through RowCodec.foreachPartitionChunk")
  }

  /** `s` without its `//` and `/* */` comments, on the same lines.
    * String and character literals are kept whole, so a `//` inside one
    * is not a comment. */
  private def code(s: String): String = {
    val out = new StringBuilder
    val charLiteral = "'(\\\\.|[^\\\\'\\n])'".r
    var i = 0
    def keep(end: Int): Unit = { out ++= s.substring(i, end); i = end }
    while (i < s.length) {
      if (s.startsWith("\"\"\"", i)) {
        val end = s.indexOf("\"\"\"", i + 3)
        keep(if (end < 0) s.length else end + 3)
      } else if (s(i) == '"') {
        var j = i + 1
        while (j < s.length && s(j) != '"' && s(j) != '\n') j += (if (s(j) == '\\') 2 else 1)
        keep(math.min(j + 1, s.length))
      } else if (s(i) == '\'') {
        keep(i + charLiteral.findPrefixOf(s.subSequence(i, math.min(i + 4, s.length)))
          .fold(1)(_.length))
      } else if (s.startsWith("//", i)) {
        while (i < s.length && s(i) != '\n') i += 1
      } else if (s.startsWith("/*", i)) {
        val end = s.indexOf("*/", i + 2)
        val next = if (end < 0) s.length else end + 2
        out += ' '
        out ++= s.substring(i, next).filter(_ == '\n') // keeps line numbers
        i = next
      } else keep(i + 1)
    }
    out.result()
  }

  test("every object in graft.streaming and graft.operators has a caller in src/main") {
    val dirs = Seq("streaming", "operators").map(d => Paths.get(s"src/main/scala/graft/$d"))
    val sources = mainSources.map(p => p -> code(new String(Files.readAllBytes(p))))
    val uncalled = sources.filter { case (p, _) => dirs.exists(p.startsWith) }.flatMap {
      case (p, s) =>
        "(?m)^(?:private\\S*\\s+)?(?:case\\s+)?object\\s+(\\w+)".r.findAllMatchIn(s)
          .map(_.group(1)).filterNot { name =>
            val named = s"\\b$name\\b".r
            sources.exists { case (q, c) => q != p && named.findFirstIn(c).nonEmpty }
          }.map(name => s"$name ($p)")
    }
    assert(uncalled.isEmpty,
      s"objects named nowhere else in src/main: ${uncalled.mkString(", ")} — " +
        "delete an operator that only its spec calls")
  }

  test("no src/main parameter exists only to force an operator's arm") {
    val switch = ("\\b(?:cutoverBytes|skewSafe|maxFilesPerBatch|filesPerHour|" +
      "forceStringFallback|driverCutoverEdges)\\s*:\\s*\\w+|" +
      "\\bpartitions\\s*:\\s*Int\\s*=\\s*0\\b").r
    val offenders = mainSources.flatMap { p =>
      switch.findAllIn(code(new String(Files.readAllBytes(p)))).map(m => s"$p: $m")
    }
    assert(offenders.isEmpty,
      s"${offenders.size} arm-forcing parameters: ${offenders.mkString(", ")} — " +
        "dispatch from the input and give each arm a named def instead")
  }

  test("each lifecycle job step has one caller; graft.jobs has no sleep loop") {
    val examples = Paths.get("src/main/scala/graft/examples")
    val jobs = Paths.get("src/main/scala/graft/jobs")
    val sources = mainSources.filterNot(_.startsWith(examples))
      .map(p => p -> code(new String(Files.readAllBytes(p))))
    val steps = Seq("Compaction\\.recover", "Compaction\\.runHourly",
      "Compaction\\.runDaily", "Retention\\.expired", "Retention(?:\\.apply)?\\(",
      "ContinuousQuery\\.catchUp")
    val copied = steps.flatMap { step =>
      val sites = sources.flatMap { case (p, s) =>
        s"\\b$step".r.findAllMatchIn(s).map(m => s"$p:${s.take(m.start).count(_ == '\n') + 1}")
      }
      if (sites.size > 1) Some(s"$step at ${sites.mkString(", ")}") else None
    }
    assert(copied.isEmpty,
      s"lifecycle steps called from more than one place: ${copied.mkString("; ")} — " +
        "call the job body in AdminApi that the route and the tick share")
    val sleeps = sources.collect {
      case (p, s) if p.startsWith(jobs) && s.contains("Thread.sleep") => p
    }
    assert(sleeps.isEmpty,
      s"Thread.sleep in graft.jobs: ${sleeps.mkString(", ")} — schedule on the server's tick")
  }

  test("HTTP routes live in the one route table; one dispatcher reads the exchange") {
    val sources = mainSources.map(p => p -> code(new String(Files.readAllBytes(p))))
    def sites(re: scala.util.matching.Regex): Seq[String] = sources.flatMap { case (p, s) =>
      re.findAllMatchIn(s).map(m => s"$p:${s.take(m.start).count(_ == '\n') + 1}")
    }
    val cases = sites("""case\s*\(\s*"(?:GET|POST|PUT|PATCH|DELETE)"\s*,""".r)
    assert(cases.isEmpty,
      s"route pattern outside the table at: ${cases.mkString(", ")} — declare a Route row")
    val gates = sites("\\b(?:requiredPerm|adminGate)\\b".r)
    assert(gates.isEmpty,
      s"per-handler permission gate at: ${gates.mkString(", ")} — declare the Route's perm")
    val dispatchers = sites("\\bgetRequestMethod\\b".r) ++
      sites("def\\s+\\w+\\s*\\(\\s*method\\s*:\\s*String\\s*,\\s*path\\s*:\\s*String\\s*,\\s*\\w+\\s*:\\s*HttpExchange".r)
    assert(dispatchers.size == 1,
      s"HttpExchange-level dispatch at: ${dispatchers.mkString(", ")} — route through the one dispatcher")
  }

  test("experimental.extraOptimizations is assigned in exactly one src/main file") {
    val assigning = mainSources.filter { p =>
      "\\bextraOptimizations\\s*=(?!=)".r.findFirstIn(code(new String(Files.readAllBytes(p)))).nonEmpty
    }
    assert(assigning.map(_.getFileName.toString) == Seq("OptimizerRules.scala"),
      s"extraOptimizations assigned in: ${assigning.mkString(", ")} — " +
        "add the rule to OptimizerRules.rules instead")
  }

  test("one buffered ingester: WALs open only in Wal.scala; the MQTT client writes no Parquet") {
    val sources = mainSources.map(p => p -> code(new String(Files.readAllBytes(p))))
    val wal = sources.flatMap { case (p, s) =>
      "new\\s+Wal\\.Writer\\b|\\bWal\\.readAll\\b".r.findAllMatchIn(s)
        .filter(_ => p.getFileName.toString != "Wal.scala")
        .map(m => s"$p:${s.take(m.start).count(_ == '\n') + 1}")
    }
    assert(wal.isEmpty,
      s"WAL opened or replayed outside Wal.scala at: ${wal.mkString(", ")} — " +
        "journal through the server's DurableIngester")
    val mqtt = Paths.get("src/main/scala/graft/ingest/Mqtt.scala")
    val mqttCode = sources.collectFirst { case (p, s) if p == mqtt => s }
    assert(mqttCode.nonEmpty, s"$mqtt missing")
    val writers = "\\b(?:HourPartitionedWriter|DirectParquetWriter)\\b".r
      .findAllIn(mqttCode.get).toSeq.distinct
    assert(writers.isEmpty,
      s"Mqtt.scala names ${writers.mkString(", ")} — deliver into the server's write core")
  }

  test("every main in src/main is named in README.md's entry points") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")))
    val mains = mainSources.flatMap { p =>
      val s = new String(Files.readAllBytes(p))
      val at = s.indexOf("def main(")
      if (at < 0) None
      else {
        val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(s).map(_.group(1))
        val obj = "object (\\w+)".r.findAllMatchIn(s.take(at)).map(_.group(1))
          .toSeq.lastOption
        Some(p -> (pkg.toSeq ++ obj).mkString("."))
      }
    }
    assert(mains.nonEmpty, "no main found in src/main")
    val unlisted = mains.filterNot { case (_, name) => readme.contains(name) }
    assert(unlisted.isEmpty,
      s"mains missing from README.md: ${unlisted.mkString(", ")} — " +
        "list each in the Entry points table, or fold the measurement " +
        "into PlanProbe or a spec")
  }
}
