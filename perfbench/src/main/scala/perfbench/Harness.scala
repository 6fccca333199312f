package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.lianjia.Pipeline
import graft.sources.{Sinks, Tables}

/** One closed-loop benchmark client in a fresh JVM: one driver thread
  * sends one op at a time to a `GraftSession.local` session.
  *
  * Timeline of a run:
  *  1. set-up (untimed): session build, then `--warmup` passes over the
  *     workload's op list, so each op's first-execution code generation
  *     and the bulk of the JIT's work land in `setup_s` instead of in the
  *     op latencies. The last warm-up pass is the output check: each query
  *     op is built and its full result collected and written out, for the
  *     caller to compare row by row with the query's DuckDB oracle;
  *  2. timed passes, each over every op in a seed-shuffled order, until
  *     `--seconds` have passed and at least `--min-passes` passes ran (a
  *     pass that has started completes, so every op has the same number
  *     of samples);
  *  3. with `--trace 1`, the timed passes alternate between untraced and
  *     traced (the listeners of [[Trace]] attached), followed by the
  *     standalone table-resolution probe, itself traced.
  *
  * Between ops (untimed, as in `graft.Bench`): cached relations and
  * RDD blocks are dropped and a full GC runs; the heap used after that GC
  * is recorded. Each op's output fingerprint (row count, or the ETL
  * batch's aggregate) is written out for the caller to check.
  */
object Harness {

  /** Start/end wall-clock ms of named intervals inside one op sample;
    * with a trace attached, jobs launched inside an interval are tagged
    * with `key/name`. */
  final class Clock(key: String, trace: Option[Trace]) {
    val spans = mutable.LinkedHashMap[String, (Long, Long)]()
    def apply[T](name: String)(body: => T): T = {
      val s = System.currentTimeMillis()
      try trace.fold(body)(_.within(s"$key/$name")(body))
      finally spans(name) = (s, System.currentTimeMillis())
    }
  }

  /** A unit of client work: `build` constructs it (the program's
    * DataFrame construction, including any eager jobs) and returns the
    * action, which yields a JSON fingerprint of the op's output. */
  trait Op {
    def name: String
    def build(clock: Clock): Clock => String
  }

  final class QueryOp(val name: String, spark: SparkSession, dir: String) extends Op {
    private val fn = SparkEntry.queries(name)
    def build(clock: Clock): Clock => String = {
      val df = fn(spark, dir)
      _ => df.count().toString
    }
    /** The op's full result as JSON: column names and rows. */
    def contents(): String = {
      val df = fn(spark, dir)
      val rows = df.collect().map(r => (0 until r.length).map(i => Json.value(r.get(i)))
        .mkString("[", ",", "]"))
      s"""{"columns":${df.columns.map(Json.str).mkString("[", ",", "]")},""" +
        s""""rows":${rows.mkString("[", ",", "]")}}"""
    }
  }

  /** One ETL batch over the pre-fetched site: extract and type villages
    * and houses, write both collections (houses partitioned by 状态),
    * read them back and aggregate houses joined to their villages. */
  final class EtlOp(spark: SparkSession, pages: String, out: String) extends Op {
    val name = "etl_batch"
    def build(clock: Clock): Clock => String = {
      val villages = Pipeline.typedVillages(Pipeline.villageItems(
        Tables.load(spark, pages, "village_pages")))
      val houses = Pipeline.typedHouses(Pipeline.unionHouses(
        Pipeline.onsaleHouseItems(Tables.load(spark, pages, "onsale_pages")),
        Pipeline.soldHouseItems(Tables.load(spark, pages, "sold_pages"))))
      c => {
        c("write") {
          Sinks.writeCollection(villages, s"$out/villages.parquet")
          Sinks.writeCollection(houses, s"$out/houses.parquet", Seq("状态"))
        }
        c("readback") {
          val v = Tables.load(spark, out, "villages")
          val h = Tables.load(spark, out, "houses")
          val byStatus = h.join(v, h("小区ID") === v("id")).groupBy("状态")
            .agg(count(lit(1)).as("houses"), countDistinct(h("小区ID")).as("villages"),
              sum("售价").as("price"), sum("成交价").as("deal"))
            .collect().sortBy(_.getString(0)).map { r =>
              s"${Json.str(r.getString(0))}:{\"houses\":${r.getLong(1)},\"villages\":${r.getLong(2)}," +
                s"\"price\":${Json.str(String.valueOf(r.get(3)))},\"deal\":${Json.str(String.valueOf(r.get(4)))}}"
            }
          s"""{"villages":${v.count()},"status":{${byStatus.mkString(",")}}}"""
        }
      }
    }

    /** Typed values of a few written rows, read back for the output check
      * (untimed: runs after the op). */
    def probe(houseIds: Seq[String], villageIds: Seq[String]): String = {
      def rows(df: DataFrame, key: String, ids: Seq[String], cols: Seq[String]) =
        df.filter(col(key).isin(ids: _*)).select((key +: cols).map(c => col(c).cast("string")): _*)
          .collect().map(r => Json.str(r.getString(0)) + ":" +
            cols.indices.map(i => Json.str(cols(i)) + ":" + Json.str(r.getString(i + 1)))
              .mkString("{", ",", "}"))
          .mkString("{", ",", "}")
      val h = rows(Tables.load(spark, out, "houses"), "房屋Id", houseIds,
        Seq("状态", "小区ID", "售价", "成交价", "建筑面积", "挂牌时间", "成交时间", "关注人数"))
      val v = rows(Tables.load(spark, out, "villages"), "id", villageIds,
        Seq("year", "buildings", "total_house"))
      s"""{"houses":$h,"villages":$v}"""
    }
  }

  final case class Sample(op: String, pass: Int, traced: Boolean, buildS: Double,
      actionS: Double, ok: Boolean, result: String, error: String, probe: String,
      heapMb: Double, key: String, spans: Map[String, (Long, Long)])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val budgetNs = (a("seconds").toDouble * 1e9).toLong
    val traced = a("trace") == "1"
    val warmupPasses = a("warmup").toInt
    val minPasses = a("min-passes").toInt
    val cores = a("cores").toInt
    val data = a("data")
    val launchMs = a("launch-ms").toLong
    val ids = (k: String) => a.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

    val bootMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, "perfbench")
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    // the between-op unpersist of a locally checkpointed RDD logs one benign
    // "cannot be recomputed" WARN through the checkpointed RDD's own class,
    // which for Dataset.localCheckpoint is MapPartitionsRDD; raise only that
    // logger, not the whole org.apache.spark.rdd package
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)

    val etl = workload == "etl_write"
    val ops: IndexedSeq[Op] =
      if (etl) IndexedSeq(new EtlOp(spark, data, a("out")))
      else a("ops").split(",").toIndexedSeq.map(n => new QueryOp(n, spark, data))
    val trace = if (traced) Some(new Trace(spark, Trace.moduleIndex(new java.io.File(a("src"))))) else None
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val samples = mutable.ArrayBuffer[Sample]()
    var attached: Option[Trace] = None
    var nOps = 0

    def hygiene(): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }

    def runOne(op: Op, pass: Int, record: Boolean): Unit = {
      nOps += 1
      val key = s"op$nOps"
      val clock = new Clock(key, attached)
      var buildS, actionS = 0.0
      val outcome = try {
        val b0 = System.nanoTime()
        val opStart = System.currentTimeMillis()
        val action = clock("build")(op.build(clock))
        val b1 = System.nanoTime()
        val result = clock("action")(action(clock))
        val b2 = System.nanoTime()
        clock.spans("op") = (opStart, System.currentTimeMillis())
        buildS = (b1 - b0) / 1e9; actionS = (b2 - b1) / 1e9
        Right(result)
      } catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
      val probe = op match {
        case e: EtlOp if record && outcome.isRight =>
          val p = () => e.probe(ids("probe-houses"), ids("probe-villages"))
          attached.fold(p())(_.within("check")(p()))
        case _ => "null"
      }
      val heap = hygiene()
      if (record) samples += Sample(op.name, pass, attached.isDefined, buildS, actionS,
        outcome.isRight, outcome.getOrElse(""), outcome.left.getOrElse(""), probe, heap, key,
        clock.spans.toMap)
      outcome.left.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
    }

    val rng = new scala.util.Random(seed)
    var passNo = 0
    def passes(n: Int, budget: Long, record: Boolean): Unit = {
      val start = System.nanoTime()
      var done = 0
      while (done < n || System.nanoTime() - start < budget) {
        passNo += 1
        rng.shuffle(ops).foreach(runOne(_, passNo, record))
        done += 1
      }
    }

    // 1. warm-up: untimed passes, the last one collecting each query op's
    // full result in place of its count
    val w0 = System.nanoTime()
    passes(warmupPasses - 1, 0L, record = false)
    passNo += 1
    val checks = rng.shuffle(ops).map {
      case q: QueryOp =>
        val got = try q.contents()
          catch { case t: Throwable => s"""{"error":${Json.str(s"${t.getClass.getSimpleName}: ${t.getMessage}")}}""" }
        hygiene()
        Some(s"${Json.str(q.name)}:$got")
      case op =>
        runOne(op, passNo, record = false)
        None
    }.flatten
    val warmupS = (System.nanoTime() - w0) / 1e9
    val firstTimedMs = System.currentTimeMillis()
    // 2. timed passes
    trace match {
      case Some(t) =>
        // pairs of one untraced and one traced pass, alternating which
        // goes first, so both halves see the same JIT and cache state
        val start = System.nanoTime()
        var pair = 0
        do {
          val order = if (pair % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach { on =>
            if (on) { t.attach(); attached = trace }
            passes(1, 0L, record = true)
            if (on) { t.detach(); attached = None }
          }
          pair += 1
        } while (2 * pair < minPasses || System.nanoTime() - start < budgetNs)
      case None => passes(minPasses, budgetNs, record = true)
    }
    val timedS = (System.currentTimeMillis() - firstTimedMs) / 1000.0

    // 3. resolve probe: Tables.byName on the workload's input tables
    val resolve = mutable.ArrayBuffer[String]()
    trace.foreach { t =>
      t.attach()
      val tables =
        if (etl) Seq(data -> "village_pages", data -> "onsale_pages", data -> "sold_pages",
          a("out") -> "villages", a("out") -> "houses")
        else Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings").map(data -> _)
      for (round <- 1 to 3) {
        val s0 = System.nanoTime()
        t.within(s"resolve/$round")(tables.foreach { case (d, n) => Tables.byName(spark, d, n) })
        resolve += f"""{"round":$round,"s":${(System.nanoTime() - s0) / 1e9}}"""
      }
      t.detach()
    }
    spark.stop()

    // trace attribution, after stop() has drained the listener bus
    val tree = mutable.ArrayBuffer[Span]()
    val layers = samples.map { s =>
      trace.filter(_ => s.traced && s.ok).map(_.attribute(s.key, s.spans, cores, tree))
        .getOrElse(Map.empty)
    }
    val untagged = trace.fold((0, 0.0))(_.untagged)
    val resolveJobs = trace.map(t => (1 to 3).map(r => t.jobsIn(s"resolve/$r")))
      .getOrElse(Nil)
    trace.foreach { _ =>
      Json.write(a("trace-file"), tree.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
        .mkString("[\n", ",\n", "\n]\n"))
    }

    val oracle = SparkEntry.oracleSql
    val sampleJson = samples.zip(layers).map { case (s, l) =>
      val layerJson = l.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      s"""{"op":${Json.str(s.op)},"pass":${s.pass},"traced":${s.traced},"build_s":${s.buildS},""" +
        s""""action_s":${s.actionS},"ok":${s.ok},"result":${if (s.ok) s.result else "null"},""" +
        s""""error":${Json.str(s.error)},"probe":${s.probe},"heap_mb":${s.heapMb},""" +
        s""""layers":$layerJson}"""
    }
    val oracleJson = ops.map(o => s"${Json.str(o.name)}:" +
      oracle.get(o.name).fold("null")(Json.str)).mkString("{", ",", "}")
    Json.write(a("result"),
      s"""{"workload":${Json.str(workload)},"cores":$cores,"launch_ms":$launchMs,""" +
        s""""jvm_boot_s":${(bootMs - launchMs) / 1000.0},"session_build_s":$sessionBuildS,""" +
        s""""warmup_s":$warmupS,"setup_s":${(firstTimedMs - launchMs) / 1000.0},""" +
        s""""timed_s":$timedS,"resolve":${resolve.mkString("[", ",", "]")},""" +
        s""""resolve_jobs":${resolveJobs.mkString("[", ",", "]")},""" +
        s""""oracle":$oracleJson,"checks":${checks.mkString("{", ",", "}")},""" +
        s""""untagged_jobs":${untagged._1},"untagged_s":${untagged._2},""" +
        s""""samples":${sampleJson.mkString("[\n", ",\n", "\n]")}}""" + "\n")
  }
}

object Json {
  def str(s: String): String = if (s == null) "null" else {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** A result value: numbers and booleans as JSON literals (non-finite
    * doubles as strings), sequences as arrays, anything else as the
    * string form Spark gives it. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Boolean) => n.toString
    case b: java.math.BigDecimal => b.toPlainString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
}
