package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.operators.{Approx, Materialized, Packing, TrainingData}

/** Benchmark harness: drives graft through its public entry points
  * (`Graft.session`, `Graft.query`, `TrainingData`'s batch and durable
  * daily pipeline) as one closed-loop client and writes a JSON record
  * of per-operation times, process CPU, Spark block storage, output
  * checksums and, when traced, per-layer attribution.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --out FILE [--threads N] [--max-ops N]
  * [--inject-failure 1]` — see perfbench/README.md. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, threads: Int,
                        maxOps: Int, injectFailure: Boolean)

  /** One timed operation. `ok` is false when it threw; `outputs` are
    * the values its correctness check compares. */
  final case class OpRec(id: Long, name: String, wallS: Double, cpuS: Double,
                         traced: Boolean, ok: Boolean, error: String,
                         outputs: Seq[(String, String)], timings: Seq[(String, Double)],
                         storageMbAfter: Double, inputBytes: Long)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("out"),
      kv.get("threads").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue),
      kv.get("inject-failure").contains("1"))
    val json = run(o)
    Files.writeString(Paths.get(o.out), json)
    System.exit(0)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** A workload: `prepare` readies the session's inputs; `warmup` runs
    * once before the timed window; `op` runs one timed
    * operation under the tracer and returns its outputs; `check` runs
    * outside the timed window and returns the failure, if any. */
  trait Workload {
    def prepare(spark: SparkSession): Unit
    def warmup(spark: SparkSession): Unit
    /** Whether the timed window may end after `n` operations. */
    def boundary(n: Int): Boolean = true
    def hasNext: Boolean = true
    /** Name of the next operation. */
    def peek: String
    def op(spark: SparkSession, tr: Tracer, id: Long): OpRec
    def check(spark: SparkSession, rec: OpRec): Option[String]
    def extra(spark: SparkSession): Seq[(String, String)] = Nil
  }

  def run(o: Opts): String = {
    val loadBefore = osBean.getSystemLoadAverage
    val w: Workload = o.workload match {
      case "analytics_mix" => new AnalyticsMix(o)
      case "curation_batch" => new CurationBatch(o)
      case "ingest_days" => new IngestDays(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up: one span from session start to the first timed operation
    // (session, input preparation, warm-up).
    val s0 = System.nanoTime()
    val spark = Graft.session(appName = "perfbench", threads = o.threads)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionTime = (System.nanoTime() - s0) / 1e9
    w.prepare(spark)
    val w0 = System.nanoTime()
    val prepareTime = (w0 - s0) / 1e9 - sessionTime
    w.warmup(spark)
    val warmupTime = (System.nanoTime() - w0) / 1e9

    // Timed window: whole operations until `seconds` of operation time
    // (whole cycles for analytics_mix). Untraced runs measure every op
    // untraced. Traced runs trace every other occurrence of each
    // operation name (each query once per two cycles, every other day),
    // so traced and untraced ops see the same mix and the same JIT
    // warm-up; the trace overhead is the difference of their medians.
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val failures = mutable.Map.empty[Long, String]
    val off = new Tracer(spark.sparkContext, enabled = false)
    val tracer = new Tracer(spark.sparkContext, enabled = o.trace)
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    var elapsed = 0.0
    var id = 0L
    val budget = o.seconds
    val setupTime = (System.nanoTime() - s0) / 1e9
    def windowOpen = elapsed < budget || !w.boundary(recs.size)
    while (windowOpen && w.hasNext && recs.size < o.maxOps) {
      val name = w.peek
      val tr = if ((seen(name) + (name.hashCode & 1)) % 2 == 1) tracer else off
      seen(name) += 1
      id += 1
      tr.currentOp = id
      val rec = w.op(spark, tr, id)
      tr.currentOp = 0L
      recs += rec
      elapsed += rec.wallS
      val bad = if (!rec.ok) Some(rec.error)
        else try w.check(spark, rec)
        catch { case e: Exception => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
      bad.foreach(failures(rec.id) = _)
    }
    tracer.drain()
    tracer.stop()
    Thread.sleep(500) // let asynchronous unpersists land before reading storage
    val storageEnd = storageMb(spark)
    val extra = w.extra(spark)
    val loadAfter = osBean.getSystemLoadAverage

    val traceFile = s"${o.work}/trace.jsonl"
    if (tracer.enabled)
      Files.write(Paths.get(traceFile),
        java.util.Arrays.asList(tracer.spansJson: _*))

    val fields = mutable.ArrayBuffer.empty[(String, String)]
    fields += "workload" -> Json.str(o.workload)
    fields += "seed" -> o.seed.toString
    fields += "threads" -> o.threads.toString
    fields += "setup_s" -> Json.num(setupTime)
    fields += "session_s" -> Json.num(sessionTime)
    fields += "prepare_s" -> Json.num(prepareTime)
    fields += "warmup_s" -> Json.num(warmupTime)
    fields += "storage_mb_end" -> Json.num(storageEnd)
    fields += "loadavg_before" -> Json.num(loadBefore)
    fields += "loadavg_after" -> Json.num(loadAfter)
    fields += "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    fields += "spark" -> Json.str(spark.version)
    fields += "scala" -> Json.str(scala.util.Properties.versionNumberString)
    fields += "ops" -> recs.map { r =>
      Json.obj(Seq(
        "id" -> r.id.toString, "name" -> Json.str(r.name),
        "wall_s" -> Json.num(r.wallS), "cpu_s" -> Json.num(r.cpuS),
        "traced" -> r.traced.toString, "ok" -> (!failures.contains(r.id)).toString,
        "error" -> Json.str(failures.getOrElse(r.id, "")),
        "storage_mb_after" -> Json.num(r.storageMbAfter),
        "input_bytes" -> r.inputBytes.toString,
        "timings" -> Json.obj(r.timings.map { case (k, v) => k -> Json.num(v) }),
        "outputs" -> Json.obj(r.outputs.map { case (k, v) => k -> Json.str(v) })))
    }.mkString("[", ",", "]")
    if (tracer.enabled) {
      fields += "trace_file" -> Json.str(traceFile)
      fields += "self_s" -> Json.obj(tracer.selfTimes.map { case (k, v) => k -> Json.num(v) })
      fields += "modules" -> Json.obj(tracer.accs.asScala.toSeq.map { case ((op, m), a) =>
        val stages = a.stageTimes.values.filter(_.size >= 2).map { ts =>
          val s = ts.sorted
          (ts.sum, s.last.toDouble / math.max(1L, s(s.size / 2)))
        }
        val wsum = stages.map(_._1).sum
        val skew = if (wsum == 0) 1.0 else stages.map { case (w, r) => w * r }.sum / wsum
        s"$op/$m" -> Json.obj(Seq(
          "op" -> op.toString, "module" -> Json.str(m),
          "cpu_s" -> Json.num(a.cpuNs / 1e9), "run_s" -> Json.num(a.runNs / 1e9),
          "jobs" -> a.jobs.size.toString, "tasks" -> a.tasks.toString,
          "shuffle_mb" -> Json.num(a.shuffleBytes / 1e6),
          "spill_mb" -> Json.num(a.spillBytes / 1e6),
          "scan_bytes" -> a.scanBytes.toString, "task_skew" -> Json.num(skew)))
      })
    }
    fields ++= extra
    spark.stop()
    Json.obj(fields)
  }

  /** Runs `body` as operation `id`, timing wall and process CPU. */
  def timedOp(spark: SparkSession, tr: Tracer, id: Long, name: String)
             (body: mutable.ArrayBuffer[(String, Double)] => Seq[(String, String)]): OpRec = {
    val timings = mutable.ArrayBuffer.empty[(String, Double)]
    val c0 = processCpuS
    val t0 = System.nanoTime()
    val (ok, err, outs) =
      try { val r = tr.span(name)(body(timings)); (true, "", r) }
      catch { case e: Exception =>
        (false, s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}", Nil) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS - c0
    OpRec(id, name, wall, cpu, tr.enabled, ok, err, outs, timings.toSeq,
      storageMb(spark), 0L)
  }

  // ------------------------------------------------------------------
  // analytics_mix: the 40 relational, event and text queries
  // ------------------------------------------------------------------

  final class AnalyticsMix(o: Opts) extends Workload {
    val queries: Seq[String] = Graft.operators.filter(n => n.take(3) <= "q40").sorted
    require(queries.size == 40, s"expected q01-q40, found ${queries.size}")
    private val rnd = new Random(o.seed)
    private val cycle = mutable.Queue.empty[String]
    private def refill(): Unit = {
      val c = (if (o.injectFailure) Seq("q00_no_such_query") else Nil) ++ rnd.shuffle(queries)
      cycle ++= c
    }
    private val cycleLen = queries.size + (if (o.injectFailure) 1 else 0)
    private val inputBytes = mutable.Map.empty[String, Long]

    def prepare(spark: SparkSession): Unit = Graft.registerTables(spark, o.data)

    private val dump = s"${o.work}/results"

    /** Two cycles: the first writes each query's full result for the
      * oracle comparison after the run (four queries at a time: the
      * results are small, so the writes are bound by per-job latency),
      * the second counts like the timed operations do. */
    def warmup(spark: SparkSession): Unit = {
      val order = new Random(o.seed).shuffle(queries)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        order.map { q =>
          pool.submit(new Runnable { def run(): Unit =
            Graft.query(q)(spark, o.data).coalesce(1).write.mode("overwrite")
              .parquet(s"$dump/$q") })
        }.foreach(_.get())
      } finally pool.shutdown()
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
        Json.obj(graft.SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
          .map { case (k, v) => k -> Json.str(v) }))
      order.foreach(q => Graft.query(q)(spark, o.data).count())
    }

    override def boundary(n: Int): Boolean = n % cycleLen == 0

    def peek: String = {
      if (cycle.isEmpty) refill()
      cycle.head
    }

    def op(spark: SparkSession, tr: Tracer, id: Long): OpRec = {
      if (cycle.isEmpty) refill()
      val q = cycle.dequeue()
      val rec = timedOp(spark, tr, id, q) { t =>
        val (df, b) = tr.timed("query.build")(Graft.query(q)(spark, o.data))
        val (_, p) = tr.timed("query.plan")(df.queryExecution.executedPlan)
        val (n, e) = tr.timed("query.execute")(df.count())
        t ++= Seq("ops.build_s" -> b, "spark.plan_s" -> p, "query.execute_s" -> e)
        if (tr.enabled) inputBytes.getOrElseUpdate(q, planInputBytes(df))
        Seq("rows" -> n.toString)
      }
      rec.copy(inputBytes = inputBytes.getOrElse(q, 0L))
    }

    // Row counts (and the warm-up's full results) are checked against
    // the DuckDB oracle after the run.
    def check(spark: SparkSession, rec: OpRec): Option[String] = None

    override def extra(spark: SparkSession): Seq[(String, String)] =
      Seq("results_dir" -> Json.str(dump))
  }

  /** On-disk bytes of the distinct files the plan's file scans read. */
  def planInputBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) -> r.sizeInBytes }
      .distinctBy(_._1).map(_._2).sum
  }

  // ------------------------------------------------------------------
  // curation: shared inputs of the batch and daily pipelines
  // ------------------------------------------------------------------

  /** Inputs both curation workloads derive from the seed. */
  final class Corpus(spark: SparkSession, o: Opts) {
    val docs: DataFrame = graft.ops.Tables.documents(spark, o.data)
      .select("doc_id", "text", "lang")
    val emb: DataFrame = graft.ops.Tables.embeddings(spark, o.data)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val nDocs: Long = docs.count()
    private val rnd = new Random(o.seed)
    // Decontamination slice: 15 consecutive documents at a seeded
    // offset (their near-duplicates are contaminated too), and 10
    // seeded embeddings.
    val benchLo: Long = rnd.nextInt(math.max(1, (nDocs - 15).toInt)).toLong
    val bench: DataFrame = docs.filter(col("doc_id").between(benchLo, benchLo + 14)).select("text")
    val benchEmb: DataFrame = emb.filter(
      pmod(xxhash64(col("doc_id"), lit(o.seed)), lit(nDocs / 10 + 1)) === 0).select("embedding")
    val salt: Long = o.seed
    val inputBytes: Long = Seq("documents", "embeddings")
      .map(t => dirBytes(new File(s"${o.data}/$t.parquet"))).sum

    /** Per-lang whitespace-token totals of the corpus. */
    lazy val tokensByLang: Map[String, Long] = docs
      .groupBy("lang").agg(sum(graft.functions.TextFunctions.tokenCount(col("text"))).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Per-lang admission check: every admitted doc's prefix
    * (`ledger + cum_before`) is below its lang's budget — the fill rule
    * that lets the doc straddling the budget in. */
  def budgetViolations(admitted: DataFrame, ledger: Map[String, Long],
                       budgets: Map[String, Long]): Long =
    admitted.select("lang", "cum_before").collect().count { r =>
      val l = r.getString(0)
      !budgets.contains(l) || ledger.getOrElse(l, 0L) + r.getLong(1) >= budgets(l)
    }.toLong

  /** The slices of each selected doc tile [0, n_tokens) exactly: no
    * gap, no overlap, nothing past the end, no doc missing. */
  def packingViolations(selected: DataFrame, packed: DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("doc_offset")
    val perDoc = packed
      .withColumn("prev_end", lag(col("doc_offset") + col("slice_len"), 1, 0L).over(w))
      .groupBy("doc_id").agg(
        sum(when(col("doc_offset") =!= col("prev_end"), 1).otherwise(0)).as("gaps"),
        sum("slice_len").as("covered"))
    selected.select("doc_id", "n_tokens").join(perDoc, Seq("doc_id"), "full_outer")
      .filter(col("gaps").isNull || col("gaps") =!= 0 || col("n_tokens").isNull ||
        col("covered") =!= col("n_tokens"))
      .count()
  }

  // ------------------------------------------------------------------
  // curation_batch: buildTrainingSet with every stage on
  // ------------------------------------------------------------------

  final class CurationBatch(o: Opts) extends Workload {
    private var c: Corpus = _
    private var budgets: Map[String, Long] = _
    private var expected: Option[Seq[(String, String)]] = None

    // en and zh bind; de, es fit; fr is left out of the mixture.
    private def budgetsOf(t: Map[String, Long]) = Map(
      "en" -> t("en") / 3, "zh" -> t("zh") / 2, "de" -> t("de") * 2, "es" -> t("es") * 2)

    private def build(spark: SparkSession) =
      TrainingData.buildTrainingSet(spark, c.docs, c.bench, budgets,
        salt = c.salt, embeddings = Some(c.emb), benchmarkEmbeddings = Some(c.benchEmb),
        minCosine = 0.9, substrK = Some(8))

    def prepare(spark: SparkSession): Unit = {
      c = new Corpus(spark, o)
      budgets = budgetsOf(c.tokensByLang)
    }

    def warmup(spark: SparkSession): Unit = {
      val ts = build(spark)
      ts.selected.count(); ts.packed.count()
      Materialized.free(ts.selected); Materialized.free(ts.packed)
    }

    private var last: TrainingData.TrainingSet = _

    def peek: String = "curation_batch"

    def op(spark: SparkSession, tr: Tracer, id: Long): OpRec =
      timedOp(spark, tr, id, "curation_batch") { t =>
        val (ts, b) = tr.timed("batch.build")(build(spark))
        val (ns, s1) = tr.timed("batch.count_selected")(ts.selected.count())
        val (np, s2) = tr.timed("batch.count_packed")(ts.packed.count())
        t ++= Seq("batch.build_s" -> b, "batch.count_s" -> (s1 + s2))
        last = ts
        Seq("selected" -> ns.toString, "packed" -> np.toString)
      }.copy(inputBytes = c.inputBytes)

    def check(spark: SparkSession, rec: OpRec): Option[String] = {
      val ts = last
      try {
        val sums = Seq(
          "selected_checksum" -> graft.PinProbe.resultChecksum(ts.selected).toString,
          "packed_checksum" -> graft.PinProbe.resultChecksum(ts.packed).toString)
        val overBudget = budgetViolations(ts.selected, Map.empty, budgets)
        val badPack = packingViolations(ts.selected, ts.packed)
        val outs = rec.outputs ++ sums
        CheckLog.record(rec.id, sums)
        if (overBudget > 0) Some(s"$overBudget selected docs past their lang budget")
        else if (badPack > 0) Some(s"$badPack docs whose slices do not tile their tokens")
        else expected match {
          case None => expected = Some(outs); None
          case Some(e) if e == outs => None
          case Some(e) => Some(s"outputs $outs differ from the first operation's $e")
        }
      } finally {
        Materialized.free(ts.selected); Materialized.free(ts.packed)
      }
    }

    override def extra(spark: SparkSession): Seq[(String, String)] =
      Seq("checks" -> CheckLog.json, "input_bytes" -> c.inputBytes.toString)
  }

  /** Checksums computed by the checks, for the cross-run comparison. */
  object CheckLog {
    private val rows = mutable.ArrayBuffer.empty[(Long, Seq[(String, String)])]
    def record(id: Long, kv: Seq[(String, String)]): Unit = rows += id -> kv
    def json: String = rows.map { case (id, kv) =>
      Json.obj(("op" -> id.toString) +: kv.map { case (k, v) => k -> Json.str(v) })
    }.mkString("[", ",", "]")
  }

  // ------------------------------------------------------------------
  // ingest_days: the durable daily pipeline
  // ------------------------------------------------------------------

  final class IngestDays(o: Opts) extends Workload {
    private var c: Corpus = _
    private var budgets: Map[String, Long] = _
    private var stateDir: String = _
    private val days = 10
    private val WarmDays = 2
    private var day = 0
    private val admittedSoFar = mutable.Set.empty[Long]
    private var lastAdmitted: DataFrame = _
    private var lastPacked: DataFrame = _
    private var lastLedger: Map[String, Long] = Map.empty

    // Seed ≈ 80% of the corpus by a seeded hash of doc_id; the other
    // 20% arrive as 10 days of ≈ 2% each, in doc_id order.
    private def isSeed = pmod(xxhash64(col("doc_id"), lit(o.seed)), lit(10)) < 8
    private def dayOf(k: Int) = !isSeed &&
      floor(col("doc_id") * lit(days) / lit(c.nDocs)) === k

    private def advance(spark: SparkSession, st: TrainingData.PipelineState, dayDocs: DataFrame) =
      TrainingData.advanceTrainingSet(spark, st, dayDocs, c.bench, budgets, salt = c.salt,
        dayEmbeddings = Some(c.emb.join(dayDocs.select("doc_id"), Seq("doc_id"), "left_semi")),
        benchmarkEmbeddings = Some(c.benchEmb), minCosine = 0.9, substrK = Some(8))

    def prepare(spark: SparkSession): Unit = {
      c = new Corpus(spark, o)
      // Budgets leave room past the seed, so the measured days admit.
      budgets = c.tokensByLang.map { case (l, t) => l -> t * 9 / 10 }
    }

    /** Fits the frozen quantizer on the seed corpus, creates the state
      * directory, seeds it with the seed corpus as one day at batch -1,
      * then runs the first days untimed. */
    def warmup(spark: SparkSession): Unit = {
      stateDir = s"${o.work}/state"
      val off = new Tracer(spark.sparkContext, enabled = false)
      val (cents, fit) = off.timed("fit")(Approx.fitSemanticCentroids(
        c.emb.filter(isSeed).select(col("doc_id").as("vec_id"), col("embedding")), nlist = 8))
      val (_, seed) = off.timed("seed") {
        TrainingData.initDurablePipelineState(spark, stateDir, substrK = Some(8),
          semCentroids = Some(cents))
        val st = TrainingData.loadDurablePipelineState(spark, stateDir)
        val seeded = advance(spark, st, c.docs.filter(isSeed))
        TrainingData.appendPipelineDay(spark, stateDir, -1L, seeded.folds)
        Materialized.free(seeded.admitted)
      }
      warmupParts = Seq("fit_s" -> fit, "seed_s" -> seed)
      // then the first days, untimed: the first day-sized runs compile
      // and plan what the later days reuse
      (0 until WarmDays).foreach { k =>
        val r = op(spark, off, -k.toLong)
        val bad = if (r.ok) check(spark, r) else Some(r.error)
        bad.foreach(e => throw new IllegalStateException(s"warm-up day $k failed: $e"))
        warmupParts :+= s"day${k}_s" -> r.wallS
      }
    }
    private var warmupParts = Seq.empty[(String, Double)]

    override def hasNext: Boolean = day < days

    def peek: String = "ingest_day"

    def op(spark: SparkSession, tr: Tracer, id: Long): OpRec = {
      val k = day
      day += 1
      val dayDocs = c.docs.filter(dayOf(k))
      val before = dirBytes(new File(stateDir))
      val rec = timedOp(spark, tr, id, "ingest_day") { t =>
        val (st, l) = tr.timed("day.load")(TrainingData.loadDurablePipelineState(spark, stateDir))
        val (out, a) = tr.timed("day.advance")(advance(spark, st, dayDocs))
        val (n, cn) = tr.timed("day.count")(out.admitted.count())
        val (packed, pk) = tr.timed("day.pack") {
          val p = Packing.packSequences(out.admitted.select(col("doc_id"), col("n_tokens"),
            md5(concat_ws(":", lit(c.salt), lit("pack"), col("doc_id").cast("string"))).as("prk")),
            512L, orderCol = "prk")
          p.count()
          p
        }
        val (_, ap) = tr.timed("day.append")(
          TrainingData.appendPipelineDay(spark, stateDir, k.toLong, out.folds))
        t ++= Seq("sources.load_s" -> l, "day.advance_s" -> a, "day.count_s" -> cn,
          "day.pack_s" -> pk, "sources.append_s" -> ap)
        lastAdmitted = out.admitted
        lastPacked = packed
        lastLedger = st.ledger
        Seq("day" -> k.toString, "admitted" -> n.toString)
      }
      val after = dirBytes(new File(stateDir))
      rec.copy(inputBytes = c.inputBytes + before,
        timings = rec.timings ++ Seq("sources.append_mb" -> (after - before) / 1e6,
          "sources.state_mb" -> after / 1e6))
    }

    def check(spark: SparkSession, rec: OpRec): Option[String] = {
      val adm = lastAdmitted
      try {
        val k = rec.outputs.toMap.apply("day").toInt
        val ids = adm.select("doc_id").collect().map(_.getLong(0))
        val dayIds = c.docs.filter(dayOf(k)).select("doc_id").collect().map(_.getLong(0)).toSet
        val outside = ids.count(i => !dayIds.contains(i))
        val twice = ids.count(admittedSoFar.contains) + (ids.length - ids.distinct.length)
        admittedSoFar ++= ids
        val langs = adm.join(c.docs.select("doc_id", "lang").withColumnRenamed("lang", "doc_lang"),
          Seq("doc_id"))
        val wrongLang = langs.filter(col("lang") =!= col("doc_lang")).count()
        val overBudget = budgetViolations(adm, lastLedger, budgets)
        val badPack = packingViolations(adm, lastPacked)
        CheckLog.record(rec.id, Seq("day" -> k.toString,
          "admitted_checksum" -> graft.PinProbe.resultChecksum(adm).toString,
          "packed_checksum" -> graft.PinProbe.resultChecksum(lastPacked).toString))
        if (outside > 0) Some(s"$outside admitted docs not in day $k's input")
        else if (twice > 0) Some(s"$twice docs admitted twice")
        else if (wrongLang > 0) Some(s"$wrongLang admitted docs with a wrong lang")
        else if (overBudget > 0) Some(s"$overBudget admitted docs past their lang budget")
        else if (badPack > 0) Some(s"$badPack docs whose slices do not tile their tokens")
        else None
      } finally { Materialized.free(adm); Materialized.free(lastPacked) }
    }

    override def extra(spark: SparkSession): Seq[(String, String)] =
      Seq("checks" -> CheckLog.json, "state_mb_end" -> Json.num(dirBytes(new File(stateDir)) / 1e6),
        "warmup_parts" -> Json.obj(warmupParts.map { case (k, v) => k -> Json.num(v) }))
  }
}
