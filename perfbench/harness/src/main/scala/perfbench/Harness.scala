package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline

/** One benchmark run in a fresh JVM. `perfbench/run.py` writes the plan
  * (`key=value` lines), starts this main, and reduces the JSON it writes.
  *
  * The run is one closed-loop client: a cold pass over the workload's
  * members, an untimed warm-up pass (query workloads), then steady
  * passes until `seconds` have elapsed. A query operation is the
  * `QueryDef` function followed by a `noop` write that materializes every
  * row and column; an `etl_daily` operation is one one-day `Pipeline.run`
  * into a graft-warehouse, and the run ends with an untimed check of the
  * loaded tables.
  *
  * Around each query operation, untimed: before it, the member's own
  * warehouse fixtures named in the plan's `reset` are removed, so that
  * every visit runs the member's DML and commits again; after it, its
  * result is digested for the output check.
  *
  * Traced, the listeners of [[Trace]] are attached to the cold pass and
  * to every other steady pass (the rest run untraced, which gives the
  * tracing overhead); in the traced steady passes each query is also
  * materialized with `count()`, in a window of its own, for the
  * count-fold audit.
  *
  * Mode `setup` only builds the session, for the repeated set-ups that
  * `setup_s` takes its median over. Mode `digest` digests query results
  * saved as parquet by `graft.Verify`, for the one-time oracle
  * cross-check of the expected values (`perfbench/oracle_xcheck.py`).
  *
  * Usage: Harness <plan file> */
object Harness {

  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0))).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    val cpus = plan("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", plan("warehouse_dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val result = mutable.LinkedHashMap[String, Any]("ready_ms" -> readyMs)
    plan("mode") match {
      case "setup" => // set-up only: launch to ready session
      case "digest" =>
        result("checks") = plan("members").split(",").toSeq.map { m =>
          val (rows, d) = digest(spark.read.parquet(s"${plan("parquet_dir")}/$m"))
          Map("name" -> m, "rows" -> rows, "digest" -> d)
        }
      case _ => new Run(spark, plan, result).run()
    }
    result("rss_peak_mb") = rssPeakMb()
    Files.writeString(Paths.get(plan("result")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    // the run is over once its result is written; run.py removes what the
    // session leaves behind, so the JVM skips Spark's teardown
    Runtime.getRuntime.halt(0)
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Order-independent result digest: the row count and the sum of a
    * 64-bit hash of each row. Floating values are hashed at nine
    * significant digits and nested values through their JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private final case class Rec(name: String, phase: String, pass: Int,
      start: Long, buildEnd: Long, end: Long, rows: Long,
      error: Option[String], created: Seq[String],
      digest: Option[String] = None, checkError: Option[String] = None)

  private final class Run(spark: SparkSession, plan: Map[String, String],
      result: mutable.LinkedHashMap[String, Any]) {
    private val sfDir = plan("sf_dir")
    private val outDir = plan("out_dir")
    private val seconds = plan("seconds").toDouble
    private val traced = plan("trace") == "1"
    private val trace = if (traced) Some(new Trace(spark)) else None
    private val isEtl = plan("workload") == "etl_daily"
    private val members = plan("members").split(",").toSeq.filter(_.nonEmpty)
    private val firstDay = if (isEtl) LocalDate.parse(plan("first_day")) else null

    private val recs = mutable.ArrayBuffer.empty[Rec]
    private val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    private var slice = 0
    private var untimedNs = 0L

    /** member -> name prefixes of its /tmp fixtures to remove before each visit */
    private val resets: Map[String, Seq[String]] =
      plan.getOrElse("reset", "").split(";").toSeq.filter(_.contains(":")).map { e =>
        val i = e.indexOf(':'); e.take(i) -> e.drop(i + 1).split("\\|").toSeq
      }.toMap

    private def untimed[T](body: => T): T = {
      val t = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t
    }

    private def reset(name: String): Unit = for {
      prefix <- resets.getOrElse(name, Nil)
      f <- Option(new File("/tmp").listFiles()).toSeq.flatten if f.getName.startsWith(prefix)
    } {
      val walk = Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }

    private def fixtures(): Set[String] =
      Option(new File("/tmp").list()).toSeq.flatten.filter(_.startsWith("graft_")).toSet

    private def errorText(e: Throwable): String = {
      val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      s"${root.getClass.getName}: ${String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse("")}"
        .take(300)
    }

    private def query(name: String): (SparkSession, String) => DataFrame = name match {
      case "inject_throw" => (_, _) => throw new IllegalStateException("injected failure")
      case "inject_wrong" => (s, _) => s.range(5).toDF("id")
      case _ => graft.SparkEntry.queries(name)
    }

    /** Runs one operation under its op property; `body` returns the
      * build-end time (0: no build phase) and the rows it delivered. */
    private def op(name: String, phase: String, pass: Int)(body: => (Long, Long)): Rec = {
      val sc = spark.sparkContext
      val before = if (phase == "cold") fixtures() else Set.empty[String]
      sc.setLocalProperty(Trace.OpProperty, recs.size.toString)
      val start = System.currentTimeMillis()
      val (buildEnd, rows, error) =
        try { val (b, n) = body; (b, n, None) }
        catch { case e: Throwable => (-1L, 0L, Some(errorText(e))) }
      val end = System.currentTimeMillis()
      sc.setLocalProperty(Trace.OpProperty, null)
      val created =
        if (phase == "cold") (fixtures() -- before).toSeq.sorted else Nil
      val r = Rec(name, phase, pass, start,
        if (buildEnd <= 0) start else buildEnd, end, rows, error, created)
      recs += r
      r
    }

    /** Per-operation block hygiene, as graft.Bench does it (not timed). */
    private def unpersistAll(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    /** One visit of a query member: reset, the timed operation, then
      * (untimed) its digest and, in traced steady passes, `count()`. */
    private def visit(name: String, phase: String, pass: Int): Unit = {
      untimed(reset(name))
      var df: DataFrame = null
      val r = op(name, phase, pass) {
        df = query(name)(spark, sfDir)
        val b = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        (b, 0L)
      }
      untimed {
        if (r.error.isEmpty) {
          recs(recs.length - 1) = try { val (n, d) = digest(df); r.copy(rows = n, digest = Some(d)) }
            catch { case e: Throwable => r.copy(checkError = Some(errorText(e))) }
          if (traced && phase == "steady" && attachedPass(pass))
            op(name, "count", pass) { val b = System.currentTimeMillis(); df.count(); (b, 0L) }
        }
        unpersistAll()
      }
    }

    private def etlSlice(): (Long, Long) = {
      val day = firstDay.plusDays(slice)
      slice += 1
      val counts = Pipeline.run(spark, Pipeline.Config(sfDir, outDir,
        day.toString, day.plusDays(1).toString, idempotentDims = true,
        sinkFormat = "graft-warehouse"))
      (0L, counts("fact_lineitem") + counts("fact_orders")) // no build phase
    }

    /** Runs one pass; its wall leaves out the untimed work around the operations. */
    private def pass(phase: String, n: Int): Unit = {
      val t0 = System.nanoTime()
      val u0 = untimedNs
      if (isEtl) { op(s"slice_${firstDay.plusDays(slice)}", phase, n)(etlSlice()); untimed(unpersistAll()) }
      else members.foreach(visit(_, phase, n))
      passes += ((n, traced && attachedPass(n), (System.nanoTime() - t0 - (untimedNs - u0)) / 1e9))
    }

    /** Traced runs alternate traced and untraced steady passes; the seed's
      * parity picks which comes first, so warm-up drift between the two
      * biases `trace.overhead_frac` in neither direction across runs. */
    private val firstTraced = plan.get("first_traced").contains("1")
    private def attachedPass(n: Int): Boolean = n == 0 || (n % 2 == 1) == firstTraced

    def run(): Unit = {
      trace.foreach(_.attach())
      pass("cold", 0)
      // A query workload's second visit of a member is still warming up
      // (JIT, codegen); one untimed pass keeps it out of the steady
      // samples. Every etl_daily slice loads a new day, so it has none.
      if (!isEtl) { trace.foreach(_.detach()); pass("warmup", -2) }
      val steadyStart = System.nanoTime()
      val untimedStart = untimedNs
      var n = 0
      def elapsed = (System.nanoTime() - steadyStart) / 1e9
      while (n == 0 || elapsed < seconds || (traced && n < 2)) {
        n += 1
        trace.foreach(t => if (attachedPass(n)) t.attach() else t.detach())
        pass("steady", n)
      }
      result("steady_wall_s") = elapsed - (untimedNs - untimedStart) / 1e9
      trace.foreach(_.detach())
      if (isEtl) result("etl") = etlCheck()
      result("passes") = passes.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) }
      val layers = trace.map(_.summarize(recs.map(r => (r.start, r.buildEnd, r.end)).toIndexedSeq))
      result("ops") = recs.zipWithIndex.map { case (r, i) =>
        mutable.LinkedHashMap[String, Any]("name" -> r.name, "phase" -> r.phase,
          "pass" -> r.pass, "wall_s" -> (r.end - r.start) / 1e3,
          "build_s" -> (r.buildEnd - r.start) / 1e3, "rows" -> r.rows,
          "error" -> r.error, "created" -> r.created, "digest" -> r.digest,
          "check_error" -> r.checkError) ++
          layers.map(_(i)).getOrElse(Map.empty)
      }
    }

    /** Reads the loaded warehouse back: per-table rows, surrogate keys of
      * each fact missing from their dim, and duplicate natural keys per
      * dim; one job each. */
    private def etlCheck(): Map[String, Any] = {
      import graft.dims._
      def t(name: String) = Pipeline.table(spark, outDir, name, "graft-warehouse")
      def counts(parts: Seq[(String, DataFrame)]): Map[String, Long] =
        parts.map { case (k, df) => df.agg(count(lit(1)).as("n")).select(lit(k).as("k"), col("n")) }
          .reduce(_ union _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tables = Seq("dim_date", "dim_time", "dim_part", "dim_supplier",
        "dim_nation", "dim_priority", "dim_segment", "fact_lineitem",
        "fact_orders", "fact_integrated")
      val dims = Seq("dim_part" -> PartDim, "dim_supplier" -> SupplierDim,
        "dim_nation" -> NationDim, "dim_priority" -> PriorityDim, "dim_segment" -> SegmentDim)
      val missing = counts(dims.map { case (dt, d) =>
        val fact = if (d == PriorityDim || d == SegmentDim) "fact_orders" else "fact_lineitem"
        s"$fact.${d.keyName}" -> t(fact).select(d.keyName)
          .join(t(dt).select(d.keyName), Seq(d.keyName), "left_anti")
      })
      val dupes = counts(dims.map { case (dt, d) =>
        dt -> t(dt).groupBy(d.naturalCols.map(col): _*).count().filter(col("count") > 1)
      })
      Map("first_day" -> firstDay.toString, "days" -> slice,
        "rows" -> counts(tables.map(n => n -> t(n))),
        "missing_keys" -> missing, "duplicate_natural_keys" -> dupes)
    }
  }
}
