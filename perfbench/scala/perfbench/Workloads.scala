package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{GraftEngine, Tables}
import graft.operators.{Dedup, IndexFsck, Retrieval, Sampling, TextAnalysis}
import graft.streaming.StreamingRetrieval

object Rows {
  /** A collected row as JSON-ready cells: numbers stay numbers, dates and
    * decimals become their string forms (the DuckDB side prints the same). */
  def cells(r: Row): Seq[Any] = r.toSeq.map {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toString
    case v => v
  }

  /** Unpersist every persisted RDD: the checkpoint blocks a finished job
    * left behind (each curate iteration is independent of the last). */
  def freeBlocks(h: Harness): Unit =
    h.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

/** Tajo-dialect SQL through GraftEngine.sql: ~90% SELECTs, ~10% INSERT
  * OVERWRITE into a column-partitioned parquet table. */
final class Olap(h: Harness, inputs: String) extends Workload {
  private val spec = Main.readJson(s"$inputs/ops.json")
  private val ops = spec.get("ops").asScala.toIndexedSeq
  private var engine: GraftEngine = _
  private var next = 0
  private val results = mutable.ArrayBuffer[Map[String, Any]]()
  private val partitions = mutable.ArrayBuffer[Map[String, Any]]()

  private def partitionCounts(afterOp: Int, inserted: Seq[Int]): Unit =
    partitions += Map("op" -> afterOp, "inserted" -> inserted,
      "counts" -> h.spark.sql(
        "SELECT ship_month, COUNT(*) FROM li_by_month GROUP BY ship_month")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

  def setup(): Unit = {
    h.phase("mount") {
      engine = new GraftEngine(h.spark)
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .foreach(n => Tables.table(h.spark, s"$inputs/tables", n).createOrReplaceTempView(n))
    }
    h.phase("create_load") {
      engine.sql(spec.get("ddl").asText)
      engine.sql(spec.get("initial_insert").asText)
    }
    partitionCounts(-1, Seq(spec.get("initial_year").asInt))
    // every SELECT template, and the INSERT once more (it rewrites the
    // loaded year, so the table is unchanged)
    h.phase("warmup") {
      spec.get("warmup").asScala.foreach(s => engine.sql(s.asText).collect())
      engine.sql(spec.get("initial_insert").asText)
    }
  }

  private val roundLen = ops.indexWhere(_.get("kind").asText == "insert") + 1

  override def canStep: Boolean = next + 2 * roundLen <= ops.length

  /** Two rounds, each the round's SELECTs and then an INSERT: windows
    * hold whole rounds, so the same statement mix, and two rounds span
    * enough time that one slow moment of the machine moves them less. */
  def step(): Unit = (1 to 2).foreach { _ =>
    var insert = false
    while (!insert) insert = statement()
  }

  private def statement(): Boolean = {
    val o = ops(next)
    next += 1
    val sql = o.get("sql").asText
    val tag = o.get("template").asText
    val insert = o.get("kind").asText == "insert"
    if (insert) {
      val done = h.op("write", tag) {
        h.note("year", o.get("year").asInt)
        h.tracer.span("engine.sql")(engine.sql(sql))
      }
      if (done.isDefined) h.untimed(partitionCounts(h.ops.length - 1,
        o.get("inserted").asScala.map(_.asInt).toSeq))
    } else {
      val rows = h.op("read", tag) {
        val df = h.tracer.span("engine.sql")(engine.sql(sql))
        val rs = h.tracer.span("exec.collect")(df.collect())
        h.note("result_rows", rs.length)
        (df.columns.toSeq, rs)
      }
      rows.foreach { case (cols, rs) =>
        results += Map("op" -> (h.ops.length - 1), "oracle" -> o.get("oracle").asText,
          "cols" -> cols, "rows" -> rs.map(Rows.cells).toSeq)
      }
    }
    insert
  }

  def finish(): Map[String, Any] =
    Map("selects" -> results.toSeq, "partitions" -> partitions.toSeq)
}

/** One batch curation job per op over the generated corpus: the public
  * operator calls in pipeline order, then a parquet write. */
final class Curate(h: Harness, inputs: String) extends Workload {
  private val corpus = s"$inputs/corpus.parquet"
  private var iter = 0
  private val outputs = mutable.ArrayBuffer[Map[String, Any]]()
  private var recall: Map[String, Any] = Map.empty

  private def call[T](name: String)(body: => T): T = h.tracer.span(s"operators.$name")(body)

  /** The job; returns the frames the output checks read afterwards. */
  private def job(out: String): (DataFrame, DataFrame) = {
    val docs = h.spark.read.parquet(corpus)
    val rules = call("gopherRules")(TextAnalysis.gopherRules(docs, "doc_id", "text"))
    val structural = docs.join(
      rules.filter(col("r_word_count") === 1 && col("r_mean_word_len") === 1 &&
          col("r_symbol") === 1 && col("r_alpha") === 1)
        .select("doc_id", "mean_word_len_ppm"), "doc_id")
    val gated = call("qualityGate")(
      TextAnalysis.qualityGate(structural, "source", "mean_word_len_ppm", 0.1, exact = true))
    val groups = call("exact")(Dedup.exact(gated, "doc_id", "text"))
    val unique = gated.join(groups.select(col("keeper").as("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = call("batchNearDupPairs")(Dedup.batchNearDupPairs(unique, "doc_id", "text"))
    val clusters = call("duplicateClusters")(Dedup.duplicateClusters(pairs))
    val kept = call("dropDuplicates")(Dedup.dropDuplicates(unique, clusters, "doc_id"))
    val mixed = call("temperatureMix")(Sampling.temperatureMix(kept, "source", "doc_id"))
    val t0 = System.nanoTime()
    call("write")(mixed.select("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(out))
    h.note("write_s", (System.nanoTime() - t0) / 1e9)
    (unique, clusters)
  }

  /** Two warm jobs: the first runs at a fraction of warm speed, and later
    * ones keep getting faster for a while. */
  def setup(): Unit = h.phase("warmup") {
    (1 to 2).foreach { i =>
      job(s"${h.work}/curate_out/warmup$i")
      Rows.freeBlocks(h)
    }
  }

  /** Two jobs per step: a single job's time moves too much from run to
    * run for its median to be steady. */
  def step(): Unit = (1 to 2).foreach(_ => timedJob())

  private def timedJob(): Unit = {
    val out = s"${h.work}/curate_out/iter$iter"
    iter += 1
    val frames = h.op("job", "curate")(job(out))
    h.untimed {
      frames.foreach { case (unique, clusters) =>
        outputs += Map("op" -> (h.ops.length - 1), "dir" -> out)
        // recall material, once per run: the near-dup stage's input ids and
        // the clusters it found
        if (recall.isEmpty) {
          unique.select("doc_id").write.parquet(s"${h.work}/curate_out/stage_ids")
          clusters.write.parquet(s"${h.work}/curate_out/clusters")
          recall = Map("stage_ids" -> s"${h.work}/curate_out/stage_ids",
            "clusters" -> s"${h.work}/curate_out/clusters")
        }
      }
      Rows.freeBlocks(h)
    }
  }

  def finish(): Map[String, Any] = Map("outputs" -> outputs.toSeq) ++ recall
}

/** A persisted BM25 index fed by a file stream while top-k searches read
  * it; compaction every few cycles while the stream is idle. */
final class IngestSearch(h: Harness, inputs: String) extends Workload {
  private val q = Main.readJson(s"$inputs/queries.json")
  private val params = Main.readJson(s"$inputs/params.json")
  private val batchDocs = params.get("batch_docs").asInt
  private val nBatches = params.get("n_batches").asInt
  private val compactEvery = params.get("compact_every").asInt
  private val topK = params.get("top_k").asInt
  private val idx = s"${h.work}/index"
  private val inDir = s"${h.work}/stream_in"
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private val warmCycles = params.get("warm_cycles").asInt
  private var staged = 0
  private var listing = Map.empty[String, Long]
  private val searches = mutable.ArrayBuffer[Map[String, Any]]()
  private val cycles = mutable.ArrayBuffer[Map[String, Any]]()
  private val fsck = mutable.ArrayBuffer[Map[String, Any]]()

  /** Bytes in index files that are new or changed since the last listing. */
  private def relist(): Long = {
    val now = java.nio.file.Files.walk(java.nio.file.Paths.get(idx)).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    val fresh = now.collect { case (p, n) if !listing.get(p).contains(n) => n }.sum
    listing = now
    fresh
  }

  /** Stage the next batch file and wait until the stream has folded it. */
  private def ingest(): Unit = {
    val name = f"b$staged%05d.parquet"
    h.tracer.span("stage")(java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$inputs/batches/$name"), java.nio.file.Paths.get(s"$inDir/$name")))
    staged += 1
    val want = staged.toLong * batchDocs
    val deadline = System.nanoTime() + 120e9.toLong
    h.tracer.span("stream.processAllAvailable") {
      // processAllAvailable can return on a trigger that listed the
      // directory just before the rename; wait until the rows are in
      while (stream.recentProgress.map(_.numInputRows).sum < want) {
        stream.exception.foreach(e => throw e)
        require(System.nanoTime() < deadline, s"batch $name not ingested in 120 s")
        stream.processAllAvailable()
      }
    }
  }

  private def search(terms: Seq[String]): Array[Row] = {
    val sp = h.spark
    import sp.implicits._
    val index = h.tracer.span("index.read")(Retrieval.Bm25Index.read(sp, idx))
    val rows = h.tracer.span("index.query")(
      Retrieval.queryBm25Index(index, terms.toDF("term"), topK = topK).collect())
    h.note("result_rows", rows.length)
    rows
  }

  private def compact(): Unit =
    h.tracer.span("index.compact")(Retrieval.compactBm25Index(h.spark, idx))

  private def checkFsck(afterOp: Int): Unit =
    fsck += Map("op" -> afterOp, "rows" -> IndexFsck.checkBm25(h.spark, idx).collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2))).toSeq)

  def setup(): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val base = h.spark.read.parquet(s"$inputs/base.parquet")
    h.phase("index_build")(Retrieval.writeBm25Index(base, "doc_id", "text", idx))
    h.info("index.build_bytes") = relist()
    val docs = h.spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    stream = StreamingRetrieval.indexedBm25Stream(docs, idx, s"${h.work}/scores",
      q.get("standing").asScala.map(_.asText).toSeq, topK = topK)
    // warm every path: folds and searches until they stop speeding up,
    // then a compaction and fsck
    h.phase("warmup") {
      (1 to warmCycles).foreach { _ =>
        ingest()
        terms().foreach(search)
      }
      compact()
    }
    checkFsck(-1)
    h.info("warm_bytes") = relist()
  }

  /** The searches drawn for the batch staged last. */
  private def terms(): Seq[Seq[String]] =
    q.get("cycles").get(staged - 1).asScala.map(_.asScala.map(_.asText).toSeq).toSeq

  override def canStep: Boolean = staged + compactEvery <= nBatches

  /** One compaction period: `compactEvery` ingest-then-search cycles,
    * then a compaction while the stream is idle. */
  def step(): Unit =
    (1 to compactEvery).foreach { c =>
      h.op("write", "ingest")(ingest())
      val fresh = h.untimed(relist())
      terms().foreach { ts =>
        h.op("read", "search")(search(ts)).foreach(rs => searches += Map(
          "op" -> (h.ops.length - 1), "batches" -> staged, "terms" -> ts,
          "rows" -> rs.map(Rows.cells).toSeq))
      }
      val compacted =
        if (c == compactEvery && h.op("compact", "compact")(compact()).isDefined) h.untimed {
          checkFsck(h.ops.length - 1)
          relist()
        } else 0L
      cycles += Map("batches" -> staged, "files" -> listing.size,
        "bytes" -> listing.values.sum, "ingest_bytes_written" -> fresh,
        "compact_bytes_written" -> compacted)
    }

  def finish(): Map[String, Any] = {
    stream.stop()
    val docs = Retrieval.Bm25Index.read(h.spark, idx).doclens.count()
    Map("searches" -> searches.toSeq, "cycles" -> cycles.toSeq, "fsck" -> fsck.toSeq,
      "doclens" -> docs, "staged" -> staged, "batch_docs" -> batchDocs)
  }
}
