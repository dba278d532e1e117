package perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Sanitize, Tables}
import graft.schema.{Ddl, SqlDialect}
import graft.sinks.JdbcUpsert
import graft.sources.Jdbc
import graft.streaming.Incremental

/** What the run shares with its jobs: the session, the generated inputs and
  * a work directory for targets and fixtures.
  */
final class Ctx(
    val spark: SparkSession,
    val inputs: String,
    val work: String,
    val seed: Long,
    val nproc: Int) {
  def target(job: String): String = s"$work/targets/$job"
  /** Rows each sink call of the current pass wrote, by job. */
  val rowsWritten = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  /** Milliseconds spent inside graft's JDBC calls in the current pass. */
  val jdbcMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  def timedJdbc[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally jdbcMs(key) += (System.nanoTime() - t0) / 1e6
  }
}

/** How a job's output is checked after the timed passes.
  *   - `Oracle`: the declared query's DuckDB oracle over the same inputs
  *     (pinned oracles are checked on the seed corpus instead);
  *   - `Sql`: benchmark-defined DuckDB SQL over the inputs and fixture files;
  *   - `Jvm`: a check run in the benchmark JVM, `None` when it holds;
  *   - `Covered`: the workload's final checks cover the job.
  */
sealed trait Check
final case class Oracle(query: String) extends Check
final case class Sql(sql: String) extends Check
final case class Jvm(run: () => Option[String]) extends Check
case object Covered extends Check

/** One unit of traffic. `build` does the job's eager graft work and returns
  * the action that loads the result into its target; `kind` groups
  * samples (job, maintain, erase, compact, serve).
  */
final case class Job(name: String, kind: String, check: Check)(
    val build: Ctx => (() => Unit))

trait Workload {
  def name: String
  def scale: Inputs.Scale
  def tables: Seq[String]
  /** Fixture work beyond the generated tables; counted in set-up time. */
  def setup(c: Ctx): Unit = ()
  /** The jobs of pass `pass` in order (the harness shuffles query jobs). */
  def jobs(c: Ctx, pass: Int): Seq[Job]
  /** Whether the harness may shuffle the pass's job list. */
  def shuffle: Boolean = true
  /** Warm passes run and discarded after the cold pass, before the timed
    * window opens.
    */
  def warmup: Int = 0
  /** Timed passes a run measures at the least, however short `--seconds` is. */
  def minPasses: Int = 2
  /** Untimed bookkeeping after each pass (layer counters of its own). */
  def afterPass(c: Ctx, add: (String, Double) => Unit): Unit = ()
  /** Checks that do not belong to one job. */
  def finalChecks(c: Ctx): Seq[(String, Check)] = Nil
  /** Workload-only end-to-end figures, printed beside the common ones. */
  def extraSamples: Map[String, Seq[Double]] = Map.empty
  def extraValues(c: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Map[String, () => Workload] = Map(
    "etl_refresh" -> (() => new EtlRefresh),
    "curation_batch" -> (() => new CurationBatch),
    "index_maintain" -> (() => new IndexMaintain),
    "graph_iterate" -> (() => new GraphIterate),
    // the three workloads beside etl_refresh cut to share one run: two
    // tokenizers over the x1 documents, one maintained MinHash root and
    // pagerank's round loop
    "curation_index_graph" -> (() => new Mix("curation_index_graph",
      new CurationBatch(Seq("bpe_encode", "wordpiece_encode"), text = 1,
        tables = Seq("documents")),
      new IndexMaintain(Seq("minhash"), batches = 10),
      new GraphIterate)))

  /** A declared query as a job: the query's plan is the build, a parquet
    * overwrite of its target is the load.
    */
  def query(name: String): Job = Job(name, "job", Oracle(name)) { c =>
    val df = SparkEntry.queries(name)(c.spark, c.inputs)
    () => df.write.mode("overwrite").parquet(c.target(name))
  }
}

/** The paper's traffic: extract, sanitize and load between databases. */
final class EtlRefresh extends Workload {
  val name = "etl_refresh"
  val scale = Inputs.Scale(relational = 1, text = 1)
  val tables = Seq("customer", "orders", "lineitem", "events")
  // its many short jobs are still compiling in the first warm pass, which
  // ran 14 to 36% above the median of the next four on a 4-core box; over
  // five seeds the median of passes 2 to 5 spread half as much as that of
  // passes 1 and 2
  override def warmup = 1
  override def minPasses = 4

  private val props = Jdbc.props("", "", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
  private var url = ""
  private val Cut = "2001-06-01 00:00:00"
  private var refreshRows = 0L
  private var upsertRows = 0L
  private var srcKeys = (0L, 0L)

  private def exec(sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(sql) finally conn.close()
  }

  /** Upper-case names and LTZ timestamps: the shape the DDL lattice and
    * Derby's unquoted identifiers agree on.
    */
  private def forDerby(df: DataFrame): DataFrame = df.select(df.schema.fields.map { f =>
    val c = col(f.name)
    (if (f.dataType.typeName == "timestamp_ntz") c.cast("timestamp") else c).as(f.name.toUpperCase)
  }: _*)

  /** Back to the parquet shape for the DuckDB check. */
  private def fromDerby(df: DataFrame): DataFrame = df.select(df.schema.fields.map { f =>
    val c = col(f.name)
    if (f.dataType.typeName == "timestamp") c.cast("timestamp_ntz").as(f.name) else c
  }: _*)

  private def createTable(df: DataFrame, table: String): Unit =
    exec(Ddl.schemaToDdl(df.schema, table, SqlDialect.Postgres).stripSuffix(";"))

  private def fixture(c: Ctx, name: String): String = s"${c.work}/fixtures/$name.parquet"

  override def setup(c: Ctx): Unit = {
    val s = c.spark
    url = "jdbc:derby:memory:perfbench;create=true"
    val li = Sanitize.sanitizeInf(Tables.lineitem(s, c.inputs))
    val liKey = Seq(col("l_orderkey"), col("l_linenumber"))
    val o = Tables.orders(s, c.inputs)
    val oKey = col("o_orderkey")
    // source: a seeded tenth of the sanitized lineitem rows
    val src = forDerby(li.filter(Inputs.unit(c.seed, "derby_src", liKey: _*) < 0.1))
    // refresh target: another tenth; the incoming window is the source's
    val tgt = forDerby(li.filter(Inputs.unit(c.seed, "derby_tgt", liKey: _*) < 0.1))
    val incoming = src.filter(col("L_SHIPDATE") >= lit(Cut).cast("timestamp"))
      .withColumn("L_QUANTITY", col("L_QUANTITY") + lit(1.0))
    val ordersTgt = forDerby(o.filter(Inputs.unit(c.seed, "derby_otgt", oKey) < 0.1))
    val ordersIn = forDerby(o.filter(Inputs.unit(c.seed, "derby_oin", oKey) < 0.03)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)))
    // the paged-source pages and the fixture files are written side by
    // side, then the Derby tables are loaded side by side
    Inputs.inParallel((() => { graft.queries.Fixtures.PagedFixture.pagesDir(s, c.inputs); () }) +:
      Seq("src" -> src, "tgt" -> tgt, "incoming" -> incoming, "otgt" -> ordersTgt,
        "oin" -> ordersIn).map { case (n, df) =>
        () => Inputs.writeSingleFile(fromDerby(df), Paths.get(fixture(c, n)))
      })
    Inputs.inParallel(Seq("src" -> "LINEITEM_SRC", "tgt" -> "LINEITEM_TGT", "otgt" -> "ORDERS_TGT")
      .map { case (n, table) => () =>
        val df = forDerby(s.read.parquet(fixture(c, n)))
        createTable(df, table)
        Jdbc.append(df, url, table, props)
      })
    // an upsert target is keyed: MERGE finds the matched row by index
    exec("CREATE INDEX ORDERS_TGT_KEY ON ORDERS_TGT (O_ORDERKEY)")
    refreshRows = Inputs.rowCount(s, Paths.get(fixture(c, "incoming")))
    upsertRows = Inputs.rowCount(s, Paths.get(fixture(c, "oin")))
    val k = s.read.parquet(fixture(c, "src")).agg(min("L_ORDERKEY"), max("L_ORDERKEY")).head()
    srcKeys = (k.getLong(0), k.getLong(1) + 1)
  }

  private def readBack(c: Ctx, job: String, table: String): Unit =
    fromDerby(Jdbc.read(c.spark, url, table, props))
      .write.mode("overwrite").parquet(c.target(job))

  def jobs(c: Ctx, pass: Int): Seq[Job] = {
    // one declared query per disposition and boundary; the window-extract,
    // refresh-window and paged-source variants also run inside the Derby
    // jobs and the Method-2 template
    val queries = Seq("t1_sanitize_inf", "l2_overwrite", "l3_retain_then_append",
      "l4_upsert", "l6_delete_where", "l7_scd2", "m1_introspect", "m4_ddl",
      "e2e_method2_template").map(Workloads.query)
    val srcView = s"read_parquet('${fixture(c, "src")}/*.parquet')"
    val tgtView = s"read_parquet('${fixture(c, "tgt")}/*.parquet')"
    val inView = s"read_parquet('${fixture(c, "incoming")}/*.parquet')"
    val otgtView = s"read_parquet('${fixture(c, "otgt")}/*.parquet')"
    val oinView = s"read_parquet('${fixture(c, "oin")}/*.parquet')"
    // Derby → parquet: partitioned parallel extract of the refresh window
    val extract = Job("jdbc_extract", "job",
      Sql(s"SELECT * FROM $srcView WHERE L_SHIPDATE >= TIMESTAMP '$Cut'")) { c =>
      val df = fromDerby(Sanitize.sanitizeInf(
        Jdbc.readPartitioned(c.spark, url, "LINEITEM_SRC", props, "L_ORDERKEY",
          srcKeys._1, srcKeys._2, c.nproc)
          .filter(col("L_SHIPDATE") >= lit(Cut).cast("timestamp"))))
      () => c.timedJdbc("read") {
        df.write.mode("overwrite").parquet(c.target("jdbc_extract"))
      }
    }
    // Method-2 on a real target: DELETE the window, append the refreshed rows
    val refresh = Job("jdbc_refresh_window", "job",
      Sql(s"SELECT * FROM $tgtView WHERE L_SHIPDATE < TIMESTAMP '$Cut' " +
        s"UNION ALL SELECT * FROM $inView")) { c =>
      val incoming = forDerby(Sanitize.sanitizeInf(c.spark.read.parquet(fixture(c, "incoming"))))
      () => c.timedJdbc("write") {
        Jdbc.deleteWhere(url, "LINEITEM_TGT", s"L_SHIPDATE >= TIMESTAMP('$Cut')", props)
        Jdbc.append(incoming, url, "LINEITEM_TGT", props)
        c.rowsWritten("jdbc_refresh_window") += refreshRows
      }
    }
    // keyed MERGE upsert through graft's JDBC sink
    val upsert = Job("jdbc_upsert", "job",
      Sql(s"SELECT * FROM $oinView UNION ALL SELECT * FROM $otgtView " +
        s"WHERE O_ORDERKEY NOT IN (SELECT O_ORDERKEY FROM $oinView)")) { c =>
      val incoming = forDerby(c.spark.read.parquet(fixture(c, "oin")))
      () => c.timedJdbc("write") {
        JdbcUpsert.write(incoming, url, "ORDERS_TGT", "", "", Seq("O_ORDERKEY"), "ansi")
        c.rowsWritten("jdbc_upsert") += upsertRows
      }
    }
    queries ++ Seq(extract, refresh, upsert)
  }

  /** The Derby targets are read back once, after the timed passes. */
  override def finalChecks(c: Ctx): Seq[(String, Check)] = {
    readBack(c, "jdbc_refresh_window", "LINEITEM_TGT")
    readBack(c, "jdbc_upsert", "ORDERS_TGT")
    Nil
  }
}

/** LLM-data curation over a seeded replica of documents and embeddings. */
final class CurationBatch(
    queries: Seq[String] = Seq("text_normalize", "quality_filter", "bpe_encode",
      "wordpiece_encode", "unigram_encode", "dedup_minhash_lsh", "dedup_components",
      "dedup_embedding_cosine", "knn_bruteforce", "pack_chunks"),
    text: Int = 2,
    val tables: Seq[String] = Seq("documents", "embeddings")) extends Workload {
  val name = "curation_batch"
  val scale = Inputs.Scale(relational = 1, text = text)
  def jobs(c: Ctx, pass: Int): Seq[Job] = queries.map(Workloads.query)
}

/** Several workloads in one run: the set-up, checks and figures of each,
  * and their jobs interleaved in a seeded order that keeps each one's own
  * order (and shuffles a part the harness would shuffle).
  */
final class Mix(val name: String, parts: Workload*) extends Workload {
  require(parts.map(_.scale).distinct.size == 1, "mixed workloads share their inputs")
  val scale = parts.head.scale
  val tables = parts.flatMap(_.tables).distinct
  override def shuffle = false
  override def setup(c: Ctx): Unit = parts.foreach(_.setup(c))
  def jobs(c: Ctx, pass: Int): Seq[Job] = {
    val rnd = new scala.util.Random(MurmurHash3.productHash((c.seed, pass, name)))
    val lists = parts.map(w => if (w.shuffle) rnd.shuffle(w.jobs(c, pass)) else w.jobs(c, pass))
    val its = lists.map(_.iterator)
    rnd.shuffle(lists.indices.flatMap(i => Seq.fill(lists(i).size)(i))).map(i => its(i).next())
  }
  override def afterPass(c: Ctx, add: (String, Double) => Unit): Unit =
    parts.foreach(_.afterPass(c, add))
  override def finalChecks(c: Ctx): Seq[(String, Check)] = parts.flatMap(_.finalChecks(c))
  override def extraSamples: Map[String, Seq[Double]] = parts.map(_.extraSamples).reduce(_ ++ _)
  override def extraValues(c: Ctx): Map[String, Double] =
    parts.map(_.extraValues(c)).reduce(_ ++ _)
}

/** Power iteration on the orders × lineitem customer–supplier graph. */
final class GraphIterate extends Workload {
  val name = "graph_iterate"
  val scale = Inputs.Scale(relational = 1, text = 1)
  val tables = Seq("orders", "lineitem")
  // pagerank, 10 rounds; label propagation and the personalized and
  // warm-start variants share its round loop and are left out to keep a run
  // inside the benchmark's time budget
  def jobs(c: Ctx, pass: Int): Seq[Job] = Seq(Workloads.query("graph_pagerank"))
}

/** Write/read mix on the four maintained roots: seeded micro-batches in,
  * seeded victims out, compaction when the tail grows, a top-k serve after
  * every write.
  */
final class IndexMaintain(
    rootNames: Seq[String] = Seq("bm25", "minhash", "simjoin", "ivfpq"),
    batches: Int = 40) extends Workload {
  val name = "index_maintain"
  val scale = Inputs.Scale(relational = 1, text = 1)
  val tables = if (rootNames.contains("ivfpq")) Seq("documents", "embeddings") else Seq("documents")
  override def shuffle = false

  // the base build is `batches` staged files; as many micro-batches follow
  private val Batches = batches
  private val MaxTail = 3

  private sealed abstract class Root(val name: String, val idCol: String, val table: String) {
    var dir = ""
    var nextBatch = 0
    val live = mutable.LinkedHashSet.empty[Long]
    val erased = mutable.HashSet.empty[Long]
    def src = s"$dir/src"
    def root = s"$dir/index"
    def ckpt = s"$dir/ckpt"
    def maintain(s: SparkSession): Unit
    def erase(s: SparkSession, ids: DataFrame): Unit
    def compact(s: SparkSession): Long
    /** A static batch build over `corpus`, written with the static writer. */
    def buildFresh(corpus: DataFrame): Unit
    def fresh = s"$dir/fresh"
    /** Served rows as comparable strings; `fresh` serves the static build
      * instead of the maintained root.
      */
    def serve(s: SparkSession, fresh: Boolean): Seq[String]
    def servedIds(rows: Seq[String]): Set[Long] =
      rows.map(_.split('|')(1).toLong).toSet
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.6f"
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def probes(s: SparkSession, inputs: String) =
    Tables.documents(s, inputs).filter(col("doc_id") % 40 === 1)
      .withColumn("doc_id", col("doc_id") + lit(100000000L))

  private var inputs = ""
  private var roots: Seq[Root] = Nil

  private final class Bm25 extends Root("bm25", "doc_id", "documents") {
    def maintain(s: SparkSession): Unit =
      Incremental.streamBm25Maintain(s, src, root, "doc_id", "text", ckpt)
    def erase(s: SparkSession, ids: DataFrame): Unit = Incremental.eraseBm25Maintained(s, root, ids)
    def compact(s: SparkSession): Long = Incremental.compactBm25Maintained(s, root)
    def buildFresh(corpus: DataFrame): Unit =
      graft.ops.Bm25Index.write(graft.ops.Bm25Index.build(corpus, "doc_id", "text"), fresh)
    def serve(s: SparkSession, fresh: Boolean): Seq[String] = {
      import s.implicits._
      val idx = if (fresh) graft.ops.Bm25Index.read(s, this.fresh)
        else Incremental.readBm25Maintained(s, root)
      val qs = Seq((1L, "hash"), (1L, "join"), (2L, "window"), (2L, "sort"),
        (3L, "merge"), (3L, "data")).toDF("q_id", "term")
      rows(graft.ops.Bm25Index.topK(idx, qs, "q_id", "term", k = 10)
        .select(col("q_id"), col("id"), round(col("score"), 6)))
    }
  }
  private final class MinHash extends Root("minhash", "doc_id", "documents") {
    def maintain(s: SparkSession): Unit = Incremental.streamMinHashMaintain(
      s, src, root, "doc_id", "text", shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    def erase(s: SparkSession, ids: DataFrame): Unit = Incremental.eraseMinHashMaintained(s, root, ids)
    def compact(s: SparkSession): Long = Incremental.compactMinHashMaintained(s, root)
    def buildFresh(corpus: DataFrame): Unit = graft.ops.MinHashIndex.write(
      graft.ops.MinHashIndex.build(corpus, "doc_id", "text", 3, 8, 2), fresh)
    def serve(s: SparkSession, fresh: Boolean): Seq[String] = {
      val idx = if (fresh) graft.ops.MinHashIndex.read(s, this.fresh)
        else Incremental.readMinHashMaintained(s, root)
      rows(graft.ops.MinHashIndex.query(idx, probes(s, inputs), "doc_id", "text", threshold = 0.5)
        .select("batch_id", "corpus_id"))
    }
  }
  private final class SimJoin extends Root("simjoin", "doc_id", "documents") {
    def maintain(s: SparkSession): Unit = Incremental.streamSimJoinMaintain(
      s, src, root, "doc_id", "text", shingleK = 3, threshold = 0.5, checkpointPath = ckpt)
    def erase(s: SparkSession, ids: DataFrame): Unit = Incremental.eraseSimJoinMaintained(s, root, ids)
    def compact(s: SparkSession): Long = Incremental.compactSimJoinMaintained(s, root)
    def buildFresh(corpus: DataFrame): Unit = graft.ops.SimJoinIndex.write(
      graft.ops.SimJoinIndex.build(corpus, "doc_id", "text", 3, 0.5), fresh)
    def serve(s: SparkSession, fresh: Boolean): Seq[String] = {
      val idx = if (fresh) graft.ops.SimJoinIndex.read(s, this.fresh)
        else Incremental.readSimJoinMaintained(s, root)
      rows(graft.ops.SimJoinIndex.pairs(idx, probes(s, inputs), "doc_id", "text")
        .select("batch_id", "corpus_id"))
    }
  }
  private final class IvfPq extends Root("ivfpq", "vec_id", "embeddings") {
    def maintain(s: SparkSession): Unit = Incremental.streamIvfPqMaintain(
      s, src, root, "vec_id", "embedding", checkpointPath = ckpt)
    def erase(s: SparkSession, ids: DataFrame): Unit = Incremental.eraseIvfPqMaintained(s, root, ids)
    def compact(s: SparkSession): Long = Incremental.compactIvfPqMaintained(s, root)
    def buildFresh(corpus: DataFrame): Unit = graft.ops.IvfPqIndex.write(graft.ops.IvfPqIndex.build(
      corpus, "vec_id", "embedding", nlist = 16, numSubspaces = 8, numCodes = 16), fresh)
    /** IVF-PQ is approximate, so a fresh build trains another model; the
      * check asks the exact part instead: every served id is live.
      */
    def serve(s: SparkSession, fresh: Boolean): Seq[String] = {
      val emb = Tables.embeddings(s, inputs)
      rows(graft.ops.IvfPqIndex.topK(Incremental.readIvfPqMaintained(s, root),
          emb.filter(col("vec_id") % 40 === 1), emb, "vec_id", "embedding", k = 5, nprobe = 8)
        .select(col("q_id"), col("n_id")))
    }
  }

  private def batchOf(seed: Long, idCol: String) =
    (Inputs.unit(seed, "batch", col(idCol)) * lit(Batches * 2)).cast("int")

  override def setup(c: Ctx): Unit = {
    val s = c.spark
    inputs = c.inputs
    roots = Seq(new Bm25, new MinHash, new SimJoin, new IvfPq).filter(r => rootNames.contains(r.name))
    roots.foreach { r =>
      r.dir = s"${c.work}/roots/${r.name}"
      val t = Tables.table(s, c.inputs, r.table)
      // half the corpus is the base build; the rest arrives in batches
      val b = t.withColumn("__b", batchOf(c.seed, r.idCol))
      val staging = s"${r.dir}/staging"
      b.write.partitionBy("__b").parquet(staging)
      Files.createDirectories(Paths.get(r.src))
      // IVF-PQ trains its frozen model on the base and streams from there;
      // its erase needs one committed batch, so the first batch lands here
      val baseBatches = if (r.name == "ivfpq") Batches + 1 else Batches
      if (r.name == "ivfpq") {
        graft.ops.IvfPqIndex.write(graft.ops.IvfPqIndex.build(
          b.filter(col("__b") < Batches).drop("__b"), "vec_id", "embedding",
          nlist = 16, numSubspaces = 8, numCodes = 16), r.root)
        stage(r, Seq(s"$staging/__b=$Batches"), "base")
      } else stage(r, (0 until Batches).map(i => s"$staging/__b=$i"), "base")
      r.maintain(s)
      r.live ++= b.filter(col("__b") < baseBatches).select(r.idCol).collect().map(_.getLong(0))
      r.nextBatch = baseBatches
    }
  }

  /** Moves the staged parts into the root's stream source as one file set. */
  private def stage(r: Root, dirs: Seq[String], tag: String): Long = {
    var bytes = 0L
    dirs.map(Paths.get(_)).filter(Files.exists(_)).foreach { d =>
      Files.list(d).filter(_.getFileName.toString.endsWith(".parquet")).forEach { p =>
        bytes += Files.size(p)
        Files.move(p, Paths.get(r.src, s"${tag}_${d.getFileName}_${p.getFileName}"))
      }
    }
    bytes
  }

  /** Seconds of the compactions that ran (the gate alone is not one). */
  private val compactS = mutable.ArrayBuffer.empty[Double]
  override def extraSamples: Map[String, Seq[Double]] = Map("compact_s" -> compactS.toSeq)

  private var leaked = List.empty[String]
  private val written = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  /** Ops of one pass: per root (in seeded order) a write, a serve, and the
    * compaction gate. A root's writes alternate maintain and erase from a
    * seeded phase, so any two passes in a row see both kinds.
    */
  def jobs(c: Ctx, pass: Int): Seq[Job] = {
    val rnd = new scala.util.Random(MurmurHash3.productHash((c.seed, pass)))
    rnd.shuffle(roots).flatMap { r =>
      val phase = MurmurHash3.productHash((c.seed, r.name))
      val writeOp =
        if (r.nextBatch < Batches * 2 && Math.floorMod(pass + phase, 2) == 0) maintainOp(r)
        else eraseOp(r, rnd.nextLong())
      Seq(writeOp, serveOp(r), compactOp(r))
    }
  }

  private def filesUnder(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  private def newBytes(before: Map[String, Long], after: Map[String, Long]): (Int, Long) = {
    val fresh = after.filter { case (k, _) => !before.contains(k) }
    (fresh.size, fresh.values.sum)
  }

  private def maintainOp(r: Root): Job = Job(s"${r.name}.maintain", "maintain",
    Covered) { c =>
    val i = r.nextBatch
    r.nextBatch += 1
    val staged = s"${r.dir}/staging/__b=$i"
    val ids = if (Files.exists(Paths.get(staged)))
      c.spark.read.parquet(staged).select(r.idCol).collect().map(_.getLong(0)).toSeq else Nil
    val inBytes = stage(r, Seq(staged), s"b$i")
    () => {
      val before = filesUnder(r.root)
      r.maintain(c.spark)
      val (n, bytes) = newBytes(before, filesUnder(r.root))
      written("streaming.files_written") += n
      written("maintain_bytes") += bytes
      written("maintain_input_bytes") += inBytes
      r.live ++= ids
    }
  }

  private def eraseOp(r: Root, pick: Long): Job = Job(s"${r.name}.erase", "erase",
    Covered) { c =>
    import c.spark.implicits._
    val rnd = new scala.util.Random(pick)
    val victims = r.live.toSeq.filter(_ => rnd.nextDouble() < 0.02)
    val ids = victims.toDF(r.idCol)
    () => {
      val before = filesUnder(r.root)
      r.erase(c.spark, ids)
      val (n, bytes) = newBytes(before, filesUnder(r.root))
      written("streaming.files_written") += n
      written("erase_bytes") += bytes
      written("erased_rows") += victims.size
      r.live --= victims
      r.erased ++= victims
    }
  }

  private def serveOp(r: Root): Job = Job(s"${r.name}.serve", "serve", Covered) { c =>
    () => {
      val got = r.serve(c.spark, fresh = false)
      val bad = r.servedIds(got).intersect(r.erased.toSet)
      if (bad.nonEmpty) leaked ::= s"${r.name} served erased ids ${bad.take(5).mkString(",")}"
    }
  }

  private def compactOp(r: Root): Job = Job(s"${r.name}.compact", "compact", Covered) { c =>
    () => {
      val t0 = System.nanoTime()
      val before = filesUnder(r.root)
      val gen = Incremental.compactIfStale(c.spark, r.root, MaxTail)(r.compact(c.spark))
      if (gen.isDefined) {
        compactS += (System.nanoTime() - t0) / 1e9
        written("streaming.files_written") += newBytes(before, filesUnder(r.root))._1
      }
    }
  }

  override def afterPass(c: Ctx, add: (String, Double) => Unit): Unit = {
    add("streaming.tail_batches",
      roots.map(r => Incremental.maintainedTailBatches(c.spark, r.root)).sum)
    written.foreach { case (k, v) => add(s"raw.$k", v) }
    written.clear()
  }

  override def finalChecks(c: Ctx): Seq[(String, Check)] = {
    val s = c.spark
    import s.implicits._
    roots.map { r =>
      s"${r.name}.serve_equals_rebuild" -> Jvm { () =>
        r.buildFresh(Tables.table(s, c.inputs, r.table).join(r.live.toSeq.toDF(r.idCol), r.idCol))
        val got = r.serve(s, fresh = false)
        val servedBad = r.servedIds(got) -- r.live
        if (leaked.nonEmpty) Some(leaked.mkString("; "))
        else if (servedBad.nonEmpty) Some(s"served ids outside the live corpus: ${servedBad.take(5)}")
        else if (r.name == "ivfpq") None
        else {
          val want = r.serve(s, fresh = true)
          if (got == want) None
          else Some(s"maintained serve (${got.size} rows) != fresh build (${want.size} rows); " +
            s"first diff ${got.diff(want).headOption.orElse(want.diff(got).headOption)}")
        }
      }
    }
  }

  /** Stored bytes of the maintained roots over the static builds of the
    * surviving corpus the final checks wrote.
    */
  override def extraValues(c: Ctx): Map[String, Double] = {
    val stored = roots.map(r => Inputs.dirBytes(Paths.get(r.root))).sum.toDouble
    val fresh = roots.map(r => Inputs.dirBytes(Paths.get(r.fresh))).sum.toDouble
    Map("stored_bytes_per_live_byte" -> stored / math.max(fresh, 1.0))
  }
}
