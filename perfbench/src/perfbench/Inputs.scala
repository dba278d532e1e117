package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator.
  *
  * Derives a workload's tables from the seed corpus (a copy of the sf0.01
  * fixture) the way `graft.tools.ScaleUp` does: `factor` replicas with every
  * key domain shifted by `replica × (max_key + 1)`, so referential integrity
  * holds inside each replica. On top of that the seed drives
  *   - sampling: about 2% of lineitem rows are dropped;
  *   - perturbation: prices and balances move by up to ±1%, about 0.4% of
  *     lineitem rows carry a ±Infinity `l_tax` for the sanitize path;
  *   - sharing: each document replica keeps its original text with
  *     probability one half, otherwise every token gets a per-replica
  *     suffix, so the seed decides which replicas are near-duplicates.
  *
  * Every random choice is a hash of (seed, key), never a draw from a
  * stateful generator, so the output does not depend on partitioning or on
  * the tables being written side by side. Each
  * table is written as one ordered file: the same seed gives the same rows in
  * the same order and byte-identical data pages.
  */
object Inputs {

  final case class TableStat(name: String, rows: Long, bytes: Long)

  final case class Scale(relational: Int, text: Int)

  /** Uniform value in [0, 1) derived from the seed and `parts`. */
  def unit(seed: Long, salt: String, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(1000003L))
      .cast("double") / lit(1000003.0)

  def generate(
      spark: SparkSession,
      baseDir: String,
      outDir: String,
      seed: Long,
      scale: Scale,
      tables: Seq[String]): Seq[TableStat] = {
    def base(name: String): DataFrame = name match {
      // events.ts ships as TIMESTAMP(NANOS) in some fixture generations;
      // graft's reader normalizes it, and NTZ keeps DuckDB's view naive
      case "events" => graft.etl.Tables.events(spark, baseDir)
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
      case other => spark.read.parquet(s"$baseDir/$other.parquet")
    }
    def offset(name: String, key: String): Long = keyMax(spark, s"$baseDir/$name.parquet", key) + 1L
    lazy val custOff = offset("customer", "c_custkey")
    lazy val suppOff = offset("supplier", "s_suppkey")
    lazy val partOff = offset("part", "p_partkey")
    lazy val ordOff = offset("orders", "o_orderkey")
    lazy val evOff = offset("events", "event_id")
    lazy val docOff = offset("documents", "doc_id")
    lazy val vecOff = offset("embeddings", "vec_id")

    def replicate(df: DataFrame, factor: Int, shifts: Seq[(String, Long)]): DataFrame = {
      val exploded = df.withColumn("__i", explode(lit((0 until factor).toArray)))
      shifts.foldLeft(exploded) { case (d, (c, o)) =>
        d.withColumn(c, col(c) + col("__i") * lit(o))
      }
    }
    def jitter(c: String, key: Column*): Column =
      round(col(c) * (lit(0.99) + unit(seed, c, key: _*) * lit(0.02)), 2)

    val r = scale.relational
    def derive(name: String): DataFrame = name match {
      case "region" | "nation" => base(name)
      case "customer" =>
        replicate(base(name), r, Seq("c_custkey" -> custOff))
          .withColumn("c_acctbal", jitter("c_acctbal", col("c_custkey")))
      case "supplier" => replicate(base(name), r, Seq("s_suppkey" -> suppOff))
      case "part" => replicate(base(name), r, Seq("p_partkey" -> partOff))
      case "orders" =>
        replicate(base(name), r, Seq("o_orderkey" -> ordOff, "o_custkey" -> custOff))
          .withColumn("o_totalprice", jitter("o_totalprice", col("o_orderkey")))
      case "lineitem" =>
        val li = replicate(base(name), r, Seq("l_orderkey" -> ordOff,
          "l_partkey" -> partOff, "l_suppkey" -> suppOff))
        val key = Seq(col("l_orderkey"), col("l_linenumber"))
        val u = unit(seed, "inf", key: _*)
        li.filter(unit(seed, "sample", key: _*) >= lit(0.02))
          .withColumn("l_extendedprice", jitter("l_extendedprice", key: _*))
          .withColumn("l_tax",
            when(u < lit(0.002), lit(Double.PositiveInfinity))
              .when(u < lit(0.004), lit(Double.NegativeInfinity))
              .otherwise(col("l_tax")))
      case "events" =>
        replicate(base(name), r, Seq("event_id" -> evOff, "user_id" -> custOff))
      case "documents" =>
        replicate(base(name), scale.text, Seq("doc_id" -> docOff))
          .withColumn("text",
            when(col("__i") === 0 ||
                unit(seed, "share", col("doc_id")) < lit(0.5), col("text"))
              .otherwise(array_join(transform(split(col("text"), " "),
                t => concat(t, lit("_"), col("__i"))), " ")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        replicate(base(name), scale.text, Seq("vec_id" -> vecOff))
          .withColumn("embedding", transform(col("embedding"),
            x => x + (col("__i").cast("float") * lit(0.001f))))
    }

    Files.createDirectories(Paths.get(outDir))
    // every table is one single-task write: they run side by side
    inParallel(tables.map { name => () =>
      val df = derive(name)
      val clean = if (df.columns.contains("__i")) df.drop("__i") else df
      val path = Paths.get(outDir, s"$name.parquet")
      writeSingleFile(clean, path)
      TableStat(name, rowCount(spark, path), dirBytes(path))
    })
  }

  /** Runs the tasks on threads of their own (Spark schedules their jobs side
    * by side) and returns their results in order.
    */
  def inParallel[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.isEmpty) Nil
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try tasks.map(t => pool.submit(() => t())).map(_.get())
      finally pool.shutdown()
    }

  /** One ordered parquet file `<path>/part-00000.parquet`: the input read is
    * one file per table, as the fixture tables are, and its bytes depend
    * only on the rows.
    */
  def writeSingleFile(df: DataFrame, path: Path): Unit = {
    val tmp = Paths.get(path.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(path)
    Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).forEach { p =>
      Files.move(p, path.resolve("part-00000.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    deleteTree(tmp)
  }

  /** Largest value of a key column, from the parquet footers' statistics. */
  def keyMax(spark: SparkSession, path: String, key: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = Paths.get(path)
    val files = if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[Path]).toSeq
      finally s.close()
    } else Seq(p)
    files.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getFooter.getBlocks.asScala.map { b =>
        val st = b.getColumns.asScala.find(_.getPath.toDotString == key).map(_.getStatistics)
        require(st.exists(_.hasNonNullValue), s"$f: no statistics for $key")
        st.get.genericGetMax.asInstanceOf[Number].longValue
      } finally r.close()
    }.max
  }

  /** Row count from the parquet footers, without a Spark job. */
  def rowCount(spark: SparkSession, dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = Files.list(dir)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).toArray.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    finally s.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
}
