package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.checks._
import graft.dedup.Checkpoints
import graft.io.Tables
import graft.model.Retail
import graft.ops.ShapeDispatch
import graft.queries.{CacheAccess, QueryCatalog}
import graft.util.SessionScoped

/** One benchmark run in one JVM: set up the session, generate the seeded
  * inputs (retail) or take the fixed sf0.1 tables (catalog), run the
  * workload's passes in a closed loop for the given number of seconds,
  * then dump what the output checks need and write the raw measurements as
  * one JSON object.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <launchEpochMs> <threads> <sfDir>
  */
object Main {

  /** One unit of a pass: a catalog query or a pipeline stage. `run` calls
    * `phase` for each of its build / exec / release parts. */
  final case class Step(name: String, layer: String, run: (String => (() => Unit) => Unit) => Unit)

  trait Workload {
    /** Pass times on a quiet 4-core host, which size the loop. */
    def nominalColdS: Double
    def nominalWarmS: Double
    /** Warm passes that only finish the JIT's warm-up and are not measured. */
    def warmupPasses: Int
    def inputBytes: Long
    def steps(cold: Boolean): Seq[Step]
    def dedupSteps: Set[String] = Set.empty
  }

  // ---- helpers -------------------------------------------------------------

  private def now(): Long = System.nanoTime()
  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime
  private def procField(file: String, key: String): Long =
    try Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      .map(_.drop(key.length).trim.takeWhile(_.isDigit).toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }
  /** Bytes this process has written through write(2): sink files, shuffle
    * files, spills and logs. */
  private def wchar(): Long = procField("/proc/self/io", "wchar:")
  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }
  private def countFiles(path: String, suffix: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => f.toString.endsWith(suffix)).toLong
  }
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def jobj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  def session(threads: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The largest heap in use right after a collection: what the engine
    * holds (caches, checkpoints, broadcasts, in-flight rows), not how large
    * the collector lets the heap grow between collections. */
  object HeapAfterGc extends NotificationListener {
    @volatile var peakB = 0L
    def reset(): Unit = peakB = 0L
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { peakB = math.max(peakB, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))
  }

  // ---- workloads -----------------------------------------------------------

  /** A cross-section of the catalog, one query per operator family, with
    * the mechanisms that make the full suite planning-bound: star-cache
    * fill (q02) and hit (q03), a ShapeDispatch auto dial (q137) and a
    * `Checkpoints.output` frame (q139), beside a scan (q01), an events
    * aggregate (q10), a histogram (q63) and q52's banded simhash
    * near-duplicate join, the execution-bound corpus work. */
  val CatalogSf01: Seq[String] = Seq(
    "q01_scan_filter_project", "q02_dim_customer", "q03_dim_datetime", "q10_events_group_max",
    "q137_top_parts_per_flag", "q139_pareto_frontier", "q52_simhash_neardups",
    "q63_value_histogram")

  /** The sorted catalog restricted to `names`, with Bench's release
    * schedule: every cache-release hook still fires at its place in the
    * full sorted order. After a selected query run the hooks of every
    * query from it up to the next selected one, so a cache whose last
    * consumer is not selected is released where the full suite would
    * release it. */
  final class Catalog(spark: SparkSession, dir: String, names: Seq[String], checkDir: String)
      extends Workload {
    private val all = SparkEntry.queries.toSeq.sortBy(_._1)
    private val fns = all.toMap
    private val selected = names.sorted
    require(selected.forall(fns.contains), s"unknown queries: ${selected.filterNot(fns.contains)}")
    private val releasesFor: Map[String, Seq[(SparkSession, String) => Unit]] = {
      val sortedNames = all.map(_._1)
      val at = selected.map(sortedNames.indexOf) :+ sortedNames.length
      selected.indices.map(i => selected(i) -> sortedNames.slice(at(i), at(i + 1))
        .flatMap(n => QueryCatalog.cacheReleaseAfter.getOrElse(n, Nil))).toMap
    }
    val inputBytes: Long = dirBytes(dir)
    val nominalColdS = 16.0
    val nominalWarmS = 6.0
    // the first warm pass runs ~35% above the steady ~5.2 s, the second ~20%
    val warmupPasses = 1
    override val dedupSteps: Set[String] =
      selected.filter(n => Seq("q19_", "q52_", "q142_").exists(n.startsWith)).toSet

    private def release(name: String): Unit = {
      releasesFor(name).foreach(_(spark, dir))
      Checkpoints.releaseOutputs()
    }

    /** The cold pass materializes each result Verify-style (one parquet
      * file per query, what the one-shot run and the output check read);
      * warm passes consume results through the noop sink, as Bench does. */
    def steps(cold: Boolean): Seq[Step] = selected.map { name =>
      Step(name, "query", phase => {
        var df: DataFrame = null
        phase("build")(() => df = fns(name)(spark, dir))
        phase("exec")(() =>
          if (cold) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
          else df.write.format("noop").mode("overwrite").save())
        phase("release")(() => release(name))
      })
    }

    // the oracle SQL the output check runs against the cold pass's results
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), jobj(
      SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }.map { case (k, v) => k -> jstr(v) }))
  }

  /** The reference pipeline on its own schema: load → preprocess → raw
    * table, dims, fact, reports, each materialized truncate-and-replace,
    * with a Soda gate after the load, transform and report steps. */
  final class RetailElt(spark: SparkSession, csv: String, out: String) extends Workload {
    val inputBytes: Long = Files.size(Paths.get(csv))
    val nominalColdS = 21.0
    val nominalWarmS = 12.0
    // the first warm pass runs ~10% above the steady ~12 s
    val warmupPasses = 0
    private def t(name: String): DataFrame = spark.read.parquet(s"$out/$name")
    private def write(df: DataFrame, name: String): Unit = Tables.overwriteParquet(df, s"$out/$name")

    def steps(cold: Boolean): Seq[Step] = Seq(
      Step("load", "io.load", phase => {
        var raw: DataFrame = null
        var country: DataFrame = null
        phase("build")(() => {
          raw = Retail.preprocess(Tables.readCsv(spark, csv, Some(Gen.RetailSchema)))
          country = Retail.countrySeed(spark)
        })
        phase("exec")(() => { write(raw, "raw_invoices"); write(country, "country") })
      }),
      Step("gate_load", "checks.gate", phase => phase("exec")(() => CheckSuite.runAll(Seq(
        t("raw_invoices") -> Seq(
          RequiredColumns(Seq("InvoiceNo", "StockCode", "Quantity", "InvoiceDate", "UnitPrice",
            "CustomerID", "Country")),
          ColumnTypes(Map("InvoiceNo" -> StringType, "StockCode" -> StringType,
            "Quantity" -> LongType, "InvoiceDate" -> StringType, "UnitPrice" -> DoubleType,
            "CustomerID" -> DoubleType, "Country" -> StringType))),
        t("country") -> Seq(
          RequiredColumns(Seq("iso", "name", "iso3", "numcode", "phonecode")),
          ColumnTypes(Map("iso" -> StringType, "name" -> StringType, "iso3" -> StringType,
            "numcode" -> IntegerType, "phonecode" -> IntegerType))))))),
      // one step per materialized table, so step percentiles rest on many samples
      Step("dim_customer", "model.dims", phase => phase("exec")(() =>
        write(Retail.dimCustomer(t("raw_invoices"), t("country")), "dim_customer"))),
      Step("dim_datetime", "model.dims", phase => phase("exec")(() =>
        write(Retail.dimDatetime(t("raw_invoices")), "dim_datetime"))),
      Step("dim_product", "model.dims", phase => phase("exec")(() =>
        write(Retail.dimProduct(t("raw_invoices")), "dim_product"))),
      Step("dim_invoice", "model.dims", phase => phase("exec")(() =>
        write(Retail.dimInvoice(t("raw_invoices"), t("dim_customer")), "dim_invoice"))),
      Step("fact", "model.fact", phase => phase("exec")(() => write(
        Retail.fctInvoiceLineValue(t("raw_invoices"), t("dim_datetime"), t("dim_product"),
          t("dim_invoice")), "fct_invoice_line_value"))),
      Step("gate_transform", "checks.gate", phase => phase("exec")(() => CheckSuite.runAll(Seq(
        t("dim_customer") -> Seq(RequiredColumns(Seq("customer_key", "customer_id", "country", "iso")),
          NoDuplicates("customer_key"), NoMissing("customer_key")),
        t("dim_datetime") -> Seq(RequiredColumns(Seq("datetime_id", "datetime")),
          InRange("weekday", 0, 6), NoDuplicates("datetime_id"), NoMissing("datetime_id")),
        t("dim_product") -> Seq(RequiredColumns(Seq("product_key", "stock_code", "description", "price")),
          NoDuplicates("product_key"), NoMissing("product_key"), MinAtLeast("price", 0)),
        t("dim_invoice") -> Seq(RequiredColumns(Seq("invoice_key", "invoiceno", "invoicedate", "customer_key")),
          NoMissing("invoice_key"), NoDuplicates("invoice_key")),
        t("fct_invoice_line_value") -> Seq(
          RequiredColumns(Seq("invoice_key", "product_key", "date_key", "quantity", "total_price")),
          NoFailedRows("positive_total_price", col("total_price") < 0)))))),
      Step("report_customer", "report.reports", phase => phase("exec")(() => write(
        Retail.reportCustomerInvoices(t("fct_invoice_line_value"), t("dim_invoice"), t("dim_customer")),
        "report_customer_invoices"))),
      Step("report_product", "report.reports", phase => phase("exec")(() => write(
        Retail.reportProductInvoices(t("fct_invoice_line_value"), t("dim_product")),
        "report_product_invoices"))),
      Step("report_year", "report.reports", phase => phase("exec")(() => write(
        Retail.reportYearInvoices(t("fct_invoice_line_value"), t("dim_datetime")),
        "report_year_invoices"))),
      Step("gate_report", "checks.gate", phase => phase("exec")(() => CheckSuite.runAll(Seq(
        t("report_customer_invoices") -> Seq(NoMissing("country"), MinAtLeast("total_invoices", 1)),
        t("report_product_invoices") -> Seq(NoMissing("stock_code"), MinAtLeast("total_quantity_sold", 1)),
        t("report_year_invoices") -> Seq(MinAtLeast("num_invoices", 0))))))
    )

  }

  // ---- the run -------------------------------------------------------------

  final case class PassResult(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
                              writeB: Long, heapMb: Double, stepS: Seq[Double], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, launchS, threadsS, sfDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val threads = threadsS.toInt
    Files.createDirectories(Paths.get(work))

    // set-up: the cold start a one-shot run pays, from the JVM's launch to
    // the end of the first session's warm-up job
    val spark = session(threads, work)
    spark.range(0, 1000, 1, threads).selectExpr("md5(cast(id as string)) h").distinct().count()
    val setupS = (System.currentTimeMillis() - launchS.toLong) / 1e3

    // inputs, excluded from every timing. The catalog reads the fixed sf0.1
    // tables graft.Bench reads, so its seed changes nothing.
    val dataDir = if (workload == "catalog_sf01") sfDir else s"$work/data"
    val checkDir = s"$work/check"
    val t0gen = now()
    val wl: Workload = workload match {
      case "retail_elt" =>
        Files.createDirectories(Paths.get(dataDir))
        val csv = s"$dataDir/raw_invoices.csv"
        Gen.assertRetailShape(Gen.retailCsv(seed, csv), Gen.RetailRows)
        new RetailElt(spark, csv, checkDir)
      case "catalog_sf01" =>
        new Catalog(spark, dataDir, CatalogSf01, checkDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = (now() - t0gen) / 1e9

    val listener = new LayerListener(wl.dedupSteps)
    val spans = mutable.ArrayBuffer.empty[Span]
    val errors = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    val sc = spark.sparkContext

    def storageMb(pred: Int => Boolean): Double =
      sc.getRDDStorageInfo.filter(i => pred(i.id)).map(i => i.memSize + i.diskSize).sum / 1e6
    def isCheckpoint(id: Int): Boolean = sc.getPersistentRDDs.get(id).exists(_.isCheckpointed)

    def runPass(index: Int, traced: Boolean): PassResult = {
      System.gc() // each pass starts from the same heap, not the last pass's garbage
      HeapAfterGc.reset()
      if (traced) { sc.addSparkListener(listener); spark.listenerManager.register(listener) }
      val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def peak(k: String, v: Double): Unit = layer(k) = math.max(layer(k), v)
      val stepS = mutable.ArrayBuffer.empty[Double]
      val cpu0 = cpuNs(); val w0 = wchar()
      val probes0 = ShapeDispatch.probeInvocations.get()
      val p0 = now()
      wl.steps(cold = index == 0).foreach { step =>
        sc.setJobGroup(step.name, step.name)
        listener.currentStep = step.name
        val cg0 = CodeGenerator.compileTime
        val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val s0 = now()
        attempted += 1
        def phase(name: String)(body: () => Unit): Unit = {
          if (traced && name == "build") CacheAccess.clear()
          val entries0 = SessionScoped.totalEntries
          val f0 = now()
          body()
          val f1 = now()
          if (traced) {
            // a pipeline stage's phases are timed by its own layer below
            if (step.layer == "query") layer(s"queries.${name}_s") += (f1 - f0) / 1e9
            if (name == "build") {
              // every cache access is recorded; one that adds an entry is a fill
              val fills = math.max(0, SessionScoped.totalEntries - entries0)
              layer("queries.cache_fills") += fills
              layer("queries.cache_hits") += math.max(0, CacheAccess.accesses.size - fills)
            }
            if (name == "exec") {
              peak("queries.cached_mb_peak", storageMb(_ => true))
              peak("dedup.checkpoint_mb_peak", storageMb(isCheckpoint))
            }
            spans += Span("phase", s"${step.name}/$name", index, f0, f1)
          }
        }
        try step.run(n => b => phase(n)(b))
        catch { case e: Throwable =>
          errors(s"pass$index/${step.name}") = String.valueOf(e.getMessage).take(300)
        }
        val s1 = now()
        stepS += (s1 - s0) / 1e9
        System.err.println(f"[perfbench] pass $index ${step.name} ${(s1 - s0) / 1e9}%.3fs")
        if (traced) {
          BusDrain(sc)
          val c = listener.take()
          val codegenS = (CodeGenerator.compileTime - cg0) / 1e9
          layer("spark.codegen_s") += codegenS
          layer("spark.codegen_compiles") += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
          layer("spark.analysis_s") += c.analysisMs / 1e3
          layer("spark.optimization_s") += c.optimizationMs / 1e3
          layer("spark.planning_s") += c.planningMs / 1e3
          layer("spark.jobs") += c.jobs
          layer("spark.stages") += c.stages
          layer("spark.tasks") += c.tasks
          layer("spark.cpu_s") += c.cpuNs / 1e9
          layer("spark.run_s") += c.runMs / 1e3
          layer("spark.gc_s") += c.gcMs / 1e3
          layer("spark.shuffle_read_mb") += c.shuffleReadB / 1e6
          layer("spark.shuffle_write_mb") += c.shuffleWriteB / 1e6
          layer("spark.spill_mb") += c.spillB / 1e6
          layer("spark.straggler_s") += c.stragglerMs / 1e3
          layer("io.scan_mb") += c.scanB / 1e6
          layer("io.scan_rows") += c.scanRows
          layer("io.write_mb") += c.writeB / 1e6
          layer("dedup.candidate_pairs") += c.candidatePairs
          layer("dedup.verified_pairs") += c.verifiedPairs
          if (step.layer != "query") layer(s"${step.layer}_s") += (s1 - s0) / 1e9
          if (step.layer == "checks.gate") layer("checks.jobs") += c.jobs
          spans += Span("step", step.name, index, s0, s1, Map(
            "jobs" -> c.jobsByGroup(step.name).toDouble, "stages" -> c.stages.toDouble,
            "cpu_s" -> c.cpuNsByGroup(step.name) / 1e9,
            "codegen_s" -> codegenS, "analysis_s" -> c.analysisMs / 1e3,
            "optimization_s" -> c.optimizationMs / 1e3, "planning_s" -> c.planningMs / 1e3))
        }
      }
      val p1 = now()
      sc.clearJobGroup()
      if (traced) {
        sc.removeSparkListener(listener); spark.listenerManager.unregister(listener)
        layer("ops.probes") += ShapeDispatch.probeInvocations.get() - probes0
        System.gc()
        layer("jvm.live_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
        if (workload == "retail_elt") layer("io.files_written") += countFiles(checkDir, ".parquet")
        spans += Span("pass", workload, index, p0, p1)
      }
      PassResult(index, traced, (p1 - p0) / 1e9, (cpuNs() - cpu0) / 1e9, wchar() - w0,
        HeapAfterGc.peakB / 1e6,
        stepS.toSeq, layer.toMap)
    }

    // closed loop: a cold pass, the workload's warm-up passes, then as many
    // measured warm passes as fill the time on a 4-core host. The count is
    // fixed by --seconds, not by how fast this run happens to go, so every
    // run's medians rest on the same samples. With tracing, traced and
    // untraced warm passes alternate, so the overhead is a same-window A/B.
    val warmPasses = math.max(wl.warmupPasses + (if (trace) 3 else 1),
      math.round((seconds - wl.nominalColdS) / wl.nominalWarmS).toInt)
    val loop0 = now()
    val passes = (0 to warmPasses).map(k => runPass(k, traced = trace && k % 2 == 0))
    val warm = passes.drop(1 + wl.warmupPasses)
    val loopS = (now() - loop0) / 1e9

    val first = passes.head
    val names = wl.steps(cold = false).map(_.name)
    // each step's median over the warm passes, so a percentile across steps
    // is not moved by one pass's outlier
    val stepTimes = names.indices.map(i => median(warm.map(_.stepS(i))))
    val e2e = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> first.wallS,
      "makespan_s" -> median(warm.map(_.wallS).toSeq),
      "cpu_s" -> median(warm.map(_.cpuS).toSeq),
      "query_p50_s" -> quantile(stepTimes, 0.5),
      "query_p90_s" -> quantile(stepTimes, 0.9),
      "peak_rss_mb" -> procField("/proc/self/status", "VmHWM:") / 1024.0,
      "peak_heap_mb" -> median(passes.map(_.heapMb)),
      "write_amp" -> median(warm.map(_.writeB.toDouble / wl.inputBytes).toSeq))
    val tracedWarm = warm.filter(_.traced)
    val untracedWarm = warm.filterNot(_.traced)
    val layers: Map[String, Double] =
      if (!trace) Map.empty else {
        val keys = tracedWarm.flatMap(_.layers.keys).toSet
        val mean = keys.map(k =>
          k -> tracedWarm.map(_.layers.getOrElse(k, 0.0)).sum / tracedWarm.length).toMap
        val untraced = median(untracedWarm.map(_.wallS).toSeq)
        // the cold pass alone probes shapes and compiles most code: its figures
        // are reported apart, and ops.probes (0 in warm passes, where the stats
        // cache answers) is the cold pass's count
        val cold = passes.head.layers
        val coldOnly = Seq("spark.codegen_compiles", "spark.codegen_s", "spark.analysis_s",
          "spark.optimization_s", "spark.planning_s").map(k => s"${k}_cold" -> cold.getOrElse(k, 0.0))
        mean ++ coldOnly ++ Map(
          "ops.probes" -> cold.getOrElse("ops.probes", 0.0),
          "trace.overhead_pct" -> (median(tracedWarm.map(_.wallS).toSeq) - untraced) / untraced * 100,
          "dedup.pairs_per_candidate" ->
            (if (mean.getOrElse("dedup.candidate_pairs", 0.0) > 0)
              mean("dedup.verified_pairs") / mean("dedup.candidate_pairs") else 0.0))
      }
    if (trace) Files.writeString(Paths.get(s"$work/spans.jsonl"), Trace.json(spans.toSeq))

    def num(m: Map[String, Double]): String = jobj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
    val result =
      s"""{"workload":${jstr(workload)},"seed":$seed,"threads":$threads,"attempted":$attempted,""" +
        s""""errors":${jobj(errors.map { case (k, v) => k -> jstr(v) })},""" +
        s""""passes":${passes.length},"loop_s":$loopS,"gen_s":$genS,"input_bytes":${wl.inputBytes},""" +
        s""""pass_s":[${passes.map(_.wallS).mkString(",")}],""" +
        s""""pass_heap_mb":[${passes.map(_.heapMb).mkString(",")}],""" +
        s""""step_s":${num(names.zip(stepTimes).toMap)},""" +
        s""""e2e":${num(e2e)},"layers":${num(layers)},"data_dir":${jstr(dataDir)},""" +
        s""""check_dir":${jstr(checkDir)},"checked":[${names.map(jstr).mkString(",")}]}"""
    Files.writeString(Paths.get(s"$work/result.json"), result + "\n")
    spark.stop()
  }
}
