package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, ScaleStress, ScratchCache, SparkEntry}

/** JVM side of the benchmark; `run.py` drives it and turns the raw
  * result file it writes into metrics.
  *
  *   gen   --base DIR --out DIR --factor N
  *         build the similarity corpus with ScaleStress.generate
  *   run   --data DIR --queries Q1,Q2,.. --seed N --passes N
  *         --trace 0|1 --out FILE [--spans FILE]
  *         set up, run N timed back-to-back passes over the queries, then
  *         fingerprint every query's output
  *
  * A pass runs every query once, in an order drawn from the seed. Each
  * query is built through `SparkEntry.queries` and materialized in full
  * to Spark's `noop` sink; scratch frames are released after it. With
  * `--trace 1` the listeners of [[Tracer]] are registered for the passes
  * (and removed before the output check).
  */
object Main {
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val opts = args.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    args(0) match {
      case "gen"   => gen(opts)
      case "run"   => run(opts)
      case other   => sys.error(s"unknown mode $other")
    }
  }

  private def gen(o: Map[String, String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ScaleStress.generate(spark, o("base"), o("out"), o("factor").toInt,
      files = 2 * GraftSession.cpus.toInt, mode = "clustered_vocabrich")
    spark.stop()
  }

  final case class Setup(spark: SparkSession, fields: Map[String, Double])

  /** Session build, then warm-up: every table footer read and one untimed
    * pass over the workload's queries, in list order, each materialized
    * to the `noop` sink. `setup_s` counts from JVM start, so JIT and code
    * generation of the first executions land in set-up, not in the timed
    * passes. A query that throws here is left for the timed passes to
    * count as failed. */
  def setup(data: String, queries: Seq[String]): Setup = {
    val t0 = System.nanoTime()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    val t2 = System.nanoTime()
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case _: Exception => () }
      finally ScratchCache.release()
    }
    val t3 = System.nanoTime()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Setup(spark, Map("build_s" -> (t1 - t0) / 1e9, "footers_s" -> (t2 - t1) / 1e9,
      "warm_pass_s" -> (t3 - t2) / 1e9, "warmup_s" -> (t3 - t1) / 1e9,
      "setup_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3))
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def run(o: Map[String, String]): Unit = {
    val data = o("data")
    val queries = o("queries").split(",").toSeq
    val trace = o("trace") == "1"
    val st = setup(data, queries)
    val spark = st.spark
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val rng = new scala.util.Random(o("seed").toLong)

    val runs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    (0 until o("passes").toInt).foreach { pass =>
      val order = rng.shuffle(queries)
      val cpu0 = cpuNs()
      val w0 = System.nanoTime()
      order.foreach { q =>
        val marks = Array.fill(4)(0L)
        marks(0) = Clock.nowUs()
        tracer.foreach(_.enter(pass, q))
        var error: Option[String] = None
        try {
          val df = fns(q)(spark, data)
          marks(1) = Clock.nowUs()
          df.write.format("noop").mode("overwrite").save()
          marks(2) = Clock.nowUs()
        } catch { case e: Throwable => error = Some(message(e)) }
        finally {
          if (marks(1) == 0) marks(1) = Clock.nowUs()
          if (marks(2) == 0) marks(2) = Clock.nowUs()
          ScratchCache.release()
        }
        marks(3) = Clock.nowUs()
        tracer.foreach(_.leave(pass, q, marks.toSeq))
        runs += Map("q" -> q, "pass" -> pass, "s" -> (marks(3) - marks(0)) / 1e6,
          "error" -> error)
      }
      val wall = (System.nanoTime() - w0) / 1e9
      tracer.foreach(_.passDone(pass, wall))
      passes += Map("pass" -> pass, "wall_s" -> wall, "cpu_s" -> (cpuNs() - cpu0) / 1e9)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.stop())
    val rss = peakRssMb()

    // Output check, outside the timed window.
    val c0 = System.nanoTime()
    val fingerprints = queries.map { q =>
      q -> (try Fingerprint(fns(q)(spark, data))
        catch { case e: Throwable => Map("error" -> message(e)) }
        finally ScratchCache.release())
    }.toMap
    val checkS = (System.nanoTime() - c0) / 1e9

    val traced = tracer.map(_.report(o.get("spans"), GraftSession.cpus.toInt))
    val layers = traced.map { case (metrics, _) =>
      metrics ++ Kernels.measure(o("seed").toLong) ++ Map(
        "session.build_s" -> st.fields("build_s"),
        "session.warmup_s" -> st.fields("warmup_s"))
    }
    Json.write(o("out"), Map(
      "setup" -> st.fields, "passes" -> passes, "runs" -> runs,
      "measured_s" -> measuredS, "check_s" -> checkS, "peak_rss_mb" -> rss,
      "fingerprints" -> fingerprints, "layers" -> layers,
      "trace" -> traced.map(_._2)))
    spark.stop()
  }
}

/** Wall clock in epoch microseconds: nanoTime resolution, anchored to
  * currentTimeMillis so it lines up with Spark's event timestamps. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = baseUs + System.nanoTime() / 1000L
}

/** Order-independent fingerprint of a query result: row count, the
  * schema, and two 32-bit halves of the sum of a 64-bit hash over every
  * column of every row. Floating-point values enter the hash printed to
  * 9 significant digits, so the last-bit noise of a parallel sum does
  * not make two equal results differ. */
object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, e => canon(e, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def apply(df: DataFrame): Map[String, Any] = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    Map("rows" -> r.getLong(0),
      "fp" -> f"${df.schema.simpleString.hashCode}%08x-$hi%x-$lo%x")
  }
}
