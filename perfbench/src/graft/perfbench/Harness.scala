package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.queries.{ExtendedQueries, StreamingQueries}
import graft.sources.Layout

/** The benchmark's JVM side: one run of one workload in a fresh JVM and
  * SparkSession, as a closed loop of one client thread on
  * `local[<cores>]`. Writes the run's measurements as one JSON object to
  * `--out`; `perfbench/run.py` turns it into the printed report.
  *
  * Phases: input generation (crm_etl only, not timed) → set-up, repeated
  * [[SetupRepeats]] times → timed phase: whole rounds of the workload's
  * ops, issued back to back until `--seconds` have passed. Each round
  * starts from a fresh session over empty scratch, so no round reuses
  * another's index paths or persisted frames.
  */
object Harness {

  val SetupRepeats = 3

  /** crm_etl extract rows: the reference's 68,589 divided by this, so a
    * run fits the benchmark's time budget; the 297 columns are kept.
    */
  val CrmRowDivisor = 16

  /** Curation: read-only declared queries that need no persisted index. */
  val CurationOps: Seq[String] = Seq("q86", "q171", "q98", "q67", "q170", "q201",
    "q114", "q145", "q186")

  /** Incremental, phase 1: `ExtendedQueries.prebuilds` thunks built from
    * empty directories, plus one bucketed layout.
    */
  val IncrementalBuilds: Seq[String] = Seq("ivf_index", "pq_index")
  val BucketedLayout: (String, String, Int) = ("orders", "o_orderkey", 8)
  val IncrementalProbes: Seq[String] = Seq("q49", "q117")
  val IncrementalDeltas: Seq[String] = Seq("q203")
  val IncrementalStreams: Seq[String] = Seq("q190")

  /** Tables each parquet workload reads (copied into scratch per round). */
  val Tables: Map[String, Seq[String]] = Map(
    "curation" -> Seq("embeddings", "documents", "lineitem"),
    "incremental" -> Seq("embeddings", "events", "orders"))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, scratch: String, data: String, fingerprints: String, out: String,
      launchMs: Long, record: Option[String], selftest: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("scratch"), m.getOrElse("data", ""),
      m.getOrElse("fingerprints", ""), m("out"), m("launch-ms").toLong,
      m.get("record"), m.get("selftest").contains("1"))
  }

  /** One op of the timed phase: `run` is timed, `check` is not. A wrong
    * output is charged to the call named `call` of `layer`.
    */
  final case class Op(name: String, layer: String, call: String, run: SparkSession => Any,
      check: (SparkSession, Any) => Option[String])

  final case class OpResult(round: Int, id: Int, name: String, layer: String,
      seconds: Double, error: Option[String])

  private def session(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", a.cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.scratch}/warehouse")
      .getOrCreate()

  /** Driver heap still in use right after a GC: a full collection is
    * requested first, so every heap pool's collection usage is current.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Set-up warm-up: one codegen'd aggregation. `incremental` also runs
    * a shuffle, a parquet round trip and a tiny MLlib KMeans fit (the
    * library its IVF and PQ builders call), so first-use costs land in
    * set-up instead of on whichever op the seed puts first.
    */
  private def warmUp(s: SparkSession, a: Args): Unit = {
    s.range(1000000L).selectExpr("sum(id)").collect()
    if (a.workload == "incremental") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.linalg.Vectors
      val dir = s"${a.scratch}/warmup"
      s.range(200000L).selectExpr("id % 101 AS k", "id").groupBy("k").count()
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir).selectExpr("sum(count)").collect()
      val pts = s.createDataFrame((0 until 200).map(i =>
        Tuple1(Vectors.dense((i % 7).toDouble, (i % 11).toDouble)))).toDF("features")
      new KMeans().setK(2).setSeed(1L).setMaxIter(2).fit(pts)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def queryFn(prefix: String): (String, (SparkSession, String) => org.apache.spark.sql.DataFrame) =
    SparkEntry.allQueries.find(_.name.startsWith(prefix + "_"))
      .map(q => q.name -> q.fn)
      .getOrElse(throw new IllegalArgumentException(s"no declared query $prefix"))

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    val jvmBootS = (mainMs - a.launchMs) / 1000.0
    new File(a.scratch).mkdirs()
    val streamingNames = StreamingQueries.all.map(_.name).toSet
    val expected =
      if (a.fingerprints.nonEmpty && a.record.isEmpty) Json.readFingerprints(a.fingerprints)
      else Map.empty[String, (String, Long)]

    // input generation: not part of set-up
    val genT0 = System.nanoTime()
    val crm = if (a.workload == "crm_etl")
      Some(CrmExtract.generate(s"${a.scratch}/input", a.seed,
        if (a.selftest) CrmExtract.ReferenceRows else CrmExtract.ReferenceRows / CrmRowDivisor)) else None
    val genS = (System.nanoTime() - genT0) / 1e9

    val inputs: Seq[(String, String)] = crm match {
      case Some(f) => (Seq(f.data, f.stm, f.rels) ++ f.repData.map(_._2)).map("csv" -> _)
      case None => Tables(a.workload).map(t => "parquet" -> s"${a.data}/$t.parquet")
    }
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = session(a)
      s.sparkContext.setLogLevel("ERROR")
      warmUp(s, a)
      inputs.foreach {
        case ("csv", p) => s.read.option("header", "true").option("multiLine", "true").csv(p).schema
        case (_, p) => s.read.parquet(p).schema
      }
      val t = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) s.stop()
      t
    }
    val spark0 = SparkSession.active
    val tracer: Trace = if (a.trace) new Tracer(spark0.sparkContext) else NoTrace

    if (a.selftest) { selftest(spark0, a, crm.get, tracer); return }
    var currentDir = ""
    val recorded = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
    var crmDigests: Option[Map[String, String]] = None

    // fresh state for every round: a new session (own SessionCache keys),
    // no cached frames, and its own copy of the input tables
    def roundSession(round: Int): (SparkSession, String) = {
      val s = if (round == 0) spark0 else {
        spark0.catalog.clearCache()
        spark0.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark0.newSession()
      }
      val dir = s"${a.scratch}/round$round"
      crm match {
        case Some(_) => new File(dir).mkdirs()
        case None => Tables(a.workload).foreach { t =>
          Fs.copyTree(Paths.get(s"${a.data}/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
        }
      }
      (s, dir)
    }

    def queryOp(prefix: String): Op = {
      val (name, fn) = queryFn(prefix)
      val layer = if (streamingNames(name)) "streaming" else "queries"
      Op(name, layer, name,
        s => tracer.call(layer, name, "call") {
          val df = tracer.phase("build")(fn(s, currentDir))
          val rows = tracer.phase("action")(df.collect())
          (df.schema, rows)
        },
        (s, res) => {
          val (schema, rows) = res.asInstanceOf[(org.apache.spark.sql.types.StructType, Array[Row])]
          val fp = Fingerprint(rows)
          a.record.foreach { dir =>
            s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$dir/$name")
            recorded += name -> (fp, rows.length.toLong)
          }
          if (a.record.isDefined) None
          else expected.get(name) match {
            case None => Some("no recorded fingerprint")
            case Some((want, n)) if want != fp || n != rows.length =>
              Some(s"fingerprint mismatch: ${rows.length} rows, $fp")
            case _ => None
          }
        })
    }
    def buildOp(name: String): Op =
      Op(name, "operators", name,
        s => tracer.call("operators", name, "build") {
          val thunk = ExtendedQueries.prebuilds(s, currentDir).toMap
            .getOrElse(name, throw new IllegalArgumentException(s"no prebuild $name"))
          thunk()
        },
        (_, res) => res match {
          case p: String if p.nonEmpty => None
          case other => Some(s"unexpected build result $other")
        })
    def layoutOp: Op = {
      val (table, key, buckets) = BucketedLayout
      Op(s"bucketed_$table", "sources", "Layout.bucketedTable",
        s => tracer.call("sources", "Layout.bucketedTable", "build")(
          Layout.bucketedTable(s, currentDir, table, Seq(key), buckets)),
        (s, res) => {
          val n = s.table(res.toString).count()
          val want = s.read.parquet(s"$currentDir/$table.parquet").count()
          if (n == want) None else Some(s"bucketed $table has $n rows, source $want")
        })
    }

    def crmOp(round: Int): Op = {
      val out = s"${a.scratch}/round$round/out"
      Op("crm_pipeline_run", "pipeline", "CrmPipeline.run",
        s => CrmWorkload.run(s, crm.get, out, tracer),
        (s, _) => {
          // the first op is checked against the planted census; later
          // ones must write byte-identical sinks
          val digests = Fs.sinkDigests(new File(out))
          val err = crmDigests match {
            case None =>
              val problems = CrmWorkload.check(s, crm.get, out)
              if (problems.isEmpty) { crmDigests = Some(digests); None }
              else Some(problems.mkString("; "))
            case Some(d) if d != digests =>
              Some(s"sinks differ from the first op: ${(d.keySet ++ digests.keySet)
                .filter(k => d.get(k) != digests.get(k)).toSeq.sorted.mkString(",")}")
            case _ => None
          }
          Fs.deleteTree(new File(out))
          err
        })
    }

    def roundOps(round: Int): Seq[Op] = {
      val rnd = new scala.util.Random(a.seed * 1000003L + round)
      a.workload match {
        case "crm_etl" => Seq(crmOp(round))
        case "curation" => rnd.shuffle(CurationOps).map(queryOp)
        case "incremental" =>
          rnd.shuffle(IncrementalBuilds.map(buildOp) :+ layoutOp) ++
            rnd.shuffle(IncrementalProbes).map(queryOp) ++
            rnd.shuffle(IncrementalDeltas).map(queryOp) ++
            rnd.shuffle(IncrementalStreams).map(queryOp)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val roundSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var heapPeak = 0.0
    var opId = 0
    val phaseT0 = System.nanoTime()
    var round = 0
    do {
      val (s, dir) = roundSession(round)
      currentDir = dir
      var inRound = 0.0
      roundOps(round).foreach { op =>
        opId += 1
        val t0 = System.nanoTime()
        val res = try Right(tracer.op(opId, op.name)(op.run(s)))
          catch { case e: Throwable => Left(e) }
        val sec = (System.nanoTime() - t0) / 1e9
        heapPeak = math.max(heapPeak, retainedHeapMb())
        // a call that threw is already marked failed by its span
        val err = res match {
          case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(v) =>
            val wrong = try op.check(s, v) catch { case e: Throwable => Some(s"check threw $e") }
            wrong.foreach(_ => tracer.fail(opId, op.layer, op.call))
            wrong
        }
        inRound += sec
        results += OpResult(round, opId, op.name, op.layer, sec, err)
      }
      roundSeconds += inRound
      round += 1
    } while ((System.nanoTime() - phaseT0) / 1e9 < a.seconds && a.record.isEmpty)
    val timedS = (System.nanoTime() - phaseT0) / 1e9

    a.record.foreach { dir =>
      new File(dir).mkdirs()
      val oracle = SparkEntry.oracleSql
      Files.write(Paths.get(s"$dir/recorded.json"), Json.obj(recorded.toSeq.map {
        case (n, (fp, rows)) => n -> Json.obj(Seq("sha256" -> Json.str(fp),
          "rows" -> rows.toString, "oracle_sql" -> oracle.get(n).map(Json.str).getOrElse("null")))
      }).getBytes("UTF-8"))
    }

    val (layerJson, traceLines) = tracer match {
      case t: Tracer =>
        val stats = t.resolve()
        (Json.obj(t.layerMetrics(stats).map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
          t.opTrace(stats))
      case _ => ("{}", Nil)
    }
    val wallS = median(roundSeconds.toSeq)
    val opsJson = Json.arr(results.toSeq.map { r =>
      Json.obj(Seq("round" -> r.round.toString, "op" -> r.id.toString,
        "name" -> Json.str(r.name), "layer" -> Json.str(r.layer),
        "seconds" -> Json.num(r.seconds),
        "error" -> r.error.map(Json.str).getOrElse("null")))
    })
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "cores" -> a.cores.toString,
      "traced" -> a.trace.toString,
      "jvm_boot_s" -> Json.num(jvmBootS),
      "session_setups_s" -> Json.arr(setups.map(Json.num)),
      "setup_s" -> Json.num(jvmBootS + median(setups)),
      "generate_s" -> Json.num(genS),
      "input_rows" -> crm.map(_.rows.toLong)
        .getOrElse(Json.tableRows(s"${a.data}/MANIFEST.json", Tables(a.workload))).toString,
      "input_bytes" -> crm.map(_.bytes.toString).getOrElse("null"),
      "census" -> crm.map(f => Json.obj(f.census.toSeq.sorted.map {
        case (k, v) => k -> v.toString })).getOrElse("null"),
      "timed_phase_s" -> Json.num(timedS),
      "rounds" -> roundSeconds.size.toString,
      "round_s" -> Json.arr(roundSeconds.toSeq.map(Json.num)),
      "wall_s" -> Json.num(wallS),
      "op_p50_s" -> Json.num(median(results.toSeq.map(_.seconds))),
      "ops" -> results.size.toString,
      "failed_ops" -> results.count(_.error.isDefined).toString,
      "driver_retained_heap_peak_mb" -> Json.num(heapPeak),
      "per_layer" -> layerJson,
      "op_results" -> opsJson,
      "op_trace" -> Json.arr(traceLines)))
    Files.write(Paths.get(a.out), json.getBytes("UTF-8"))
    spark0.stop()
  }

  /** crm_etl spec checks, run once by hand (`run.py --selftest`): the
    * generated extract's shape and planted-defect census, the op's
    * output census, and byte equality with `PipelineMain.run`.
    */
  private def selftest(spark: SparkSession, a: Args, f: CrmExtract.Files, tr: Trace): Unit = {
    val out = s"${a.scratch}/selftest/op"
    val ref = s"${a.scratch}/selftest/pipeline_main"
    val input = CrmWorkload.checkInput(spark, f)
    CrmWorkload.run(spark, f, out, tr)
    val output = CrmWorkload.check(spark, f, out)
    val differ = CrmWorkload.sameAsPipelineMain(spark, f, out, ref)
    val json = Json.obj(Seq(
      "census" -> Json.obj(f.census.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "input_problems" -> Json.arr(input.map(Json.str)),
      "output_problems" -> Json.arr(output.map(Json.str)),
      "sinks_differing_from_pipeline_main" -> Json.arr(differ.map(Json.str)),
      "sinks_compared" -> Fs.sinkDigests(new File(ref)).size.toString))
    Files.write(Paths.get(a.out), json.getBytes("UTF-8"))
    spark.stop()
  }
}
