package graft.perfbench

import graft.SparkEntry
import graft.operators.DedupPrepare
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** `query_board`: one client runs a fixed slice of `SparkEntry.queries`
  * back to back, collecting each result before issuing the next query.
  * Pass 0 is cold (fresh JVM, fresh warehouse: codegen and every layer
  * build); the later passes are warm. Each pass runs the slice in an
  * order permuted by the seed. */
object QueryBench {

  /** The slice, by query-name prefix: relational and as-of queries that
    * read no layer, beside queries served from the dedup, text,
    * similarity and sampling layers and kernels. */
  val Slice: Seq[String] = Seq(
    "q06", "q08", "q21", "q22", "q24",
    "dd01", "dd03", "dd05", "ta13", "ss03")

  /** Operator family of every registered query, from the registry that
    * owns it. */
  lazy val families: Map[String, String] = {
    import graft.operators._
    Seq("relational" -> Relational.qs, "asof" -> AsOfJoin.qs, "dedup" -> Dedup.qs,
      "similarity" -> Similarity.qs, "text" -> TextAnalysis.qs,
      "sampling" -> Sampling.qs, "curation" -> Curation.qs,
      "multimodal" -> Multimodal.qs)
      .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  }

  def sliceQueries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    Slice.map { p =>
      val hits = all.keys.filter(_.startsWith(p + "_")).toSeq
      require(hits.size == 1, s"slice prefix $p matches ${hits.mkString(",")}")
      hits.head -> all(hits.head)
    }
  }

  def order(seed: Long, pass: Int, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(spark: SparkSession, a: Main.Args, trace: Trace): Map[String, Any] = {
    val slice = sliceQueries
    val queries = slice.toMap
    val names = slice.map(_._1)
    val errors = mutable.ArrayBuffer.empty[String]
    val digests = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    var attempted = 0

    /** One operation: run the query and collect its result. Only the
      * execution is timed (and, when `span` is given, traced); the digest
      * is computed after. */
    def exec(name: String, span: Option[String] = None): Option[Cost] = {
      spark.catalog.clearCache()
      attempted += 1
      try {
        def collect() = queries(name)(spark, a.data).collect()
        var rows = Array.empty[Row]
        val c = Cost.of { rows = span.fold(collect())(trace.span(_)(collect())) }
        digests.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Digest.of(rows)
        Some(c)
      } catch { case NonFatal(e) =>
        errors += s"$name: ${e.toString.take(500)}"
        digests.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += "error"
        None
      }
    }
    def pass(p: Int): Seq[(String, Option[Cost])] =
      order(a.seed, p, names).map(n => n -> exec(n))
    def total(r: Seq[(String, Option[Cost])]): Cost = r.flatMap(_._2).foldLeft(Cost.zero)(_ + _)

    val base = Map[String, Any]("errors" -> errors, "digests" -> digests,
      "queries" -> names)
    if (!a.trace) {
      val cold = pass(0)
      val warm = Loop.repeat(a.seconds, minIters = 2)(pass)
      val byQuery = (cold +: warm).map(_.collect { case (n, Some(c)) => n -> c.wallS }.toMap)
      base ++ Map("cold_s" -> total(cold).wallS, "cold_cpu_s" -> total(cold).cpuS,
        "warm_s" -> warm.map(total(_).wallS), "warm_cpu_s" -> warm.map(total(_).cpuS),
        "attempted" -> attempted, "by_query" -> byQuery)
    } else {
      // cold pass untraced, with the program's own per-build timer
      DedupPrepare.drainBuildLog()
      val cold = total(pass(0))
      val builds = DedupPrepare.drainBuildLog()
        .groupMapReduce { case (f, _) => "DedupPrepare.build_s." + f.takeWhile(_ != '_') }(
          _._2)(_ + _)
      pass(1)
      val counters = new EngineCounters
      spark.sparkContext.addSparkListener(counters)
      val before = counters.snapshot(spark.sparkContext)
      var serveTasks = 0.0
      trace.span("pass") {
        order(a.seed, 2, names).foreach { n =>
          val fam = families(n)
          val c0 = counters.snapshot(spark.sparkContext)("spark.tasks")
          exec(n, Some(s"operators.$fam"))
          if (fam != "relational" && fam != "asof")
            serveTasks += counters.snapshot(spark.sparkContext)("spark.tasks") - c0
        }
      }
      val engine = EngineCounters.delta(before, counters.snapshot(spark.sparkContext))
      spark.sparkContext.removeSparkListener(counters)
      val traced = trace.spans.filter(_.name == "pass").last.seconds
      // wall time of an untraced pass, like the traced pass's
      val jit0 = Main.jitS
      val u0 = System.nanoTime()
      pass(3)
      val untraced = (System.nanoTime() - u0) / 1e9
      val jit = Main.jitS - jit0
      val self = trace.selfByName
      val layers = builds ++
        self.collect { case (n, t) if n.startsWith("operators.") => s"${n}_s" -> t } ++
        engine.collect {
          case (k, v) if k.startsWith("spark.") => k -> v
          case ("input_bytes", v) => "Tables.input_bytes" -> v
          case ("input_rows", v) => "Tables.input_rows" -> v
        } ++
        layerStats(spark, a.work) ++
        Map("DedupPrepare.serve_tasks" -> serveTasks, "jvm.jit_s" -> jit,
          "wall.cold_s" -> cold.wallS, "wall.warm_s" -> untraced,
          "trace.e2e_s" -> traced, "trace.overhead_s" -> (traced - untraced),
          "trace.unattributed_s" -> self("pass")) ++
        Kernels.rates(spark, a.data)
      base ++ Map("layers" -> layers, "attempted" -> attempted)
    }
  }

  /** Materialized layers in the run's warehouse: how many, their bytes
    * and files, and the kept share of rows from the cap-audit tables
    * the capped layers publish. */
  private def layerStats(spark: SparkSession, work: String): Map[String, Double] = {
    val wh = Paths.get(work, "warehouse")
    val dirs = if (Files.isDirectory(wh)) {
      val s = Files.list(wh)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      finally s.close()
    } else Nil
    val layerDirs = dirs.filterNot(_.getFileName.toString.endsWith("__audit"))
    val files = layerDirs.flatMap { d =>
      val s = Files.walk(d)
      try s.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toArray.toSeq
        .map(_.asInstanceOf[Path])
      finally s.close()
    }
    val audits = dirs.filter(_.getFileName.toString.endsWith("__audit"))
      .map(d => spark.read.parquet(d.toString)
        .agg(sum("rows_in"), sum("rows_kept")).head())
      .map(r => (r.getLong(0), r.getLong(1)))
    val (in, kept) = (audits.map(_._1).sum, audits.map(_._2).sum)
    Map("DedupPrepare.layers" -> layerDirs.size.toDouble,
      "DedupPrepare.layer_bytes" -> files.map(Files.size(_).toDouble).sum,
      "DedupPrepare.layer_files" -> files.size.toDouble,
      "DedupPrepare.cap_kept_ratio" -> (if (in == 0) 1.0 else kept.toDouble / in))
  }
}

/** Order-insensitive digest of a query result: row count plus the sum,
  * modulo 2^64, of a 64-bit hash of each row's canonical text. Doubles
  * are rounded to 9 significant digits so summation order cannot flip
  * the digest. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    import scala.util.hashing.MurmurHash3.stringHash
    var h = 0L
    rows.foreach { r =>
      val c = canon(r)
      h += (stringHash(c, 0x3c6ef372).toLong << 32) ^ (stringHash(c, 0x1b873593) & 0xffffffffL)
    }
    f"${rows.length}:$h%016x"
  }
}

/** Kernel throughput: each native kernel's projection over an in-memory
  * input written to the noop sink, minus the same input's scan-only
  * noop write, as rows per second (median of three). */
object Kernels {
  private def secs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  private def rate(input: DataFrame, scan: Column, kernel: DataFrame => DataFrame): Double = {
    val n = input.count().toDouble
    val k = median(Seq.fill(3)(secs(kernel(input))))
    val s = median(Seq.fill(3)(secs(input.select(scan))))
    n / math.max(k - s, 1e-6)
  }

  /** About `target` rows of `df`, repeated, cached in memory. */
  private def amplified(spark: SparkSession, df: DataFrame, target: Long): DataFrame = {
    val n = math.max(df.count(), 1L)
    val out = df.crossJoin(spark.range(math.max(1L, target / n)).select(col("id").as("rep")))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    out.count()
    out
  }

  def rates(spark: SparkSession, dir: String): Map[String, Double] = {
    graft.functions.GraftFunctions.register(spark)
    val docs = amplified(spark, spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text"), expr("tokens_h60(text)").as("h")), 100000L)
    val emb = amplified(spark, spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding")), 100000L)
    val hashes = amplified(spark, spark.range(100000L)
      .select(xxhash64(col("id")).as("hl"), (col("id") % 16).as("g")), 100000L)
    val out = Map(
      "functions.tokens_h60_rows_per_s" ->
        rate(docs, col("text"), _.select(expr("tokens_h60(text)"))),
      "functions.simhash60_rows_per_s" ->
        rate(docs, col("h"), _.select(expr("simhash60(h)"))),
      "functions.token_stats_rows_per_s" ->
        rate(docs, col("text"), _.select(expr("token_stats(text)"))),
      "functions.ngram_stats_rows_per_s" ->
        rate(docs, col("text"), _.select(expr("ngram_stats(text, 2)"))),
      "functions.grid_dot_rows_per_s" ->
        rate(emb, col("embedding"), _.select(expr("grid_dot(embedding, embedding)"))),
      "functions.kmv_kth_rows_per_s" ->
        rate(hashes, col("hl"), _.groupBy(col("g")).agg(expr("kmv_kth(hl, 64)"))))
    Seq(docs, emb, hashes).foreach(_.unpersist())
    out
  }
}
