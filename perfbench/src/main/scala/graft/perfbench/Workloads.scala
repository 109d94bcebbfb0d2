package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry}
import graft.layers.{Bronze, Gold, Silver}
import graft.storage.{GraftCatalog, V2CatalogWarehouse}

/** Row count plus an order-independent hash of a result: the sum
  * (wrapping) of one xxhash64 per row. Doubles are rounded to 6 decimals
  * first so the last-ulp differences of a re-ordered float aggregate do
  * not read as a changed result. */
final case class Digest(rows: Long, hash: Long)

object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** The timed action of every operation: computes all output columns
    * (unlike `count()`, which lets the optimizer prune them). */
  def of(df: DataFrame): Digest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }
}

/** One timed operation: `family` groups warm medians into the `ops.*`
  * per-layer sums; `write` marks statements whose driver-side self time
  * counts as commit time; `check` runs untimed on the result and throws
  * on a wrong one. */
final case class Op(name: String, family: String, run: () => Digest, write: Boolean = false,
    check: Digest => Unit = _ => ())

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val seed: Long, val tracer: Option[Tracer]) {
  def call[T](layer: String)(f: => T): T = tracer.fold(f)(_.call(layer)(f))
  lazy val entries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  def family(name: String): String =
    Seq("dedup", "sim", "text", "prep", "multimodal").find(p => name.startsWith(p + "_"))
      .getOrElse("relational")
  def query(name: String): Op = {
    val fn = Bench.productionVariants.get(name).orElse(entries.get(name))
      .getOrElse(sys.error(s"unknown query $name"))
    Op(name, family(name), () => Digest.of(fn(spark, data)))
  }
  def docs: DataFrame = graft.queries.Parity.t(spark, data, "documents")
}

/** A workload: untimed set-up, then passes of timed operations. */
trait Workload {
  /** Untimed persisted state; run several times, the last one is kept. */
  def setup(): Unit = ()
  /** Whether every pass does the same work on the same state, so results
    * and structural counters must repeat from pass to pass. */
  def repeatable: Boolean = true
  /** A fixed number of measured passes, whatever `--seconds` says: for
    * a workload whose state grows from pass to pass, so the time budget
    * does not decide how large the measured state gets. */
  def measuredPasses: Option[Int] = None
  def ops(pass: Int): Seq[Op]
  /** Declared queries whose results are dumped for the DuckDB oracle. */
  def oracle: Seq[String]
  /** Checks after the last pass; each message is one failed check. */
  def finish(): Seq[String] = Nil
  /** Untimed per-layer values of the state after the last pass. */
  def endStats: Map[String, Double] = Map.empty
  /** Input sizes, printed with the metrics. */
  def inputs: Map[String, Double]
}

object Workloads {
  /** Single-pass executor work over every layer of the read path: the
    * TPC-H shapes, gold/silver aggregates and one or more kernels of each
    * operator family. A fixed subset of the headline set, so a run fits
    * the benchmark's time budget. */
  val batch: Seq[String] = Seq(
    "q_tpch5", "q_gold_agg",
    "dedup_minhash_lsh", "sim_topk_int8", "text_tf_rarity", "prep_corpus",
    "multimodal_audio_neardup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch_scan" => new BatchScan(ctx)
    case "lakehouse_day" => new LakehouseDay(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

final class BatchScan(ctx: Ctx) extends Workload {
  private val order = new scala.util.Random(ctx.seed).shuffle(Workloads.batch)
  def ops(pass: Int): Seq[Op] = order.map(ctx.query)
  def oracle: Seq[String] = order.filter(n =>
    SparkEntry.oracleSql.contains(n) && !Bench.productionVariants.contains(n))
  def inputs: Map[String, Double] =
    Seq("lineitem", "orders", "customer", "part", "supplier", "events", "documents", "embeddings")
      .map(n => s"rows.$n" -> ctx.spark.read.parquet(s"${ctx.data}/$n.parquet").count().toDouble)
      .toMap
}

/** Writes beside reads through the catalog: pass `d` is day `d` of one
  * warehouse, so table state grows across the run. The script is fixed:
  * day 0 is the cold pass, day 1 settles, days 2-4 are measured. A day is the medallion
  * pipeline into the catalog and a same-date re-run, the DML statements
  * each followed by a read of the table they changed, one delete
  * compaction, and a streaming restart plus micro-batches. Checks run
  * untimed after each operation. */
final class LakehouseDay(ctx: Ctx) extends Workload {
  private val s = ctx.spark
  override def repeatable: Boolean = false
  override def measuredPasses: Option[Int] = Some(3)
  val recordsPerDay = 10000
  val streamBatches = 2
  val streamBatchRows = 500
  private val start = LocalDate.of(2024, 1, 1)
  private var gen = 0 // one fresh warehouse per set-up
  private def cat = s"lh$gen"
  private def wh = s"${ctx.work}/lakehouse/$gen"
  private var warehouse: V2CatalogWarehouse = _
  private var streamHistory: Seq[Seq[LakehouseDay.Rec]] = Nil
  private var docCount = 0L
  private var expected = Map.empty[String, Long] // table -> live rows
  private var lastGold: Option[Digest] = None

  private val types = Seq("micro", "brewpub", "regional")
  private def records(day: Int): Seq[String] = {
    val rnd = new scala.util.Random(ctx.seed * 1000003L + day)
    (0 until recordsPerDay).map { i =>
      val t = types(rnd.nextInt(3))
      val city = s"City ${rnd.nextInt(100)}"
      val state = s"State ${rnd.nextInt(50)}"
      val geo = if (rnd.nextInt(20) == 0) "null"
        else f"\"${rnd.nextDouble() * 360 - 180}%.6f\""
      f"""{"id":"perf-$day%02d-$i%06d","name":"Brewery $i","brewery_type":"$t",""" +
        f""""address_1":"$i Main St","city":"$city","state_province":"$state",""" +
        f""""postal_code":"${rnd.nextInt(100000)}%05d","country":"United States",""" +
        f""""longitude":$geo,"latitude":$geo,"phone":"555-${rnd.nextInt(10000)}%04d",""" +
        f""""website_url":"http://b$i.example","state":"$state","street":"$i Main St"}"""
    }
  }

  /** The run's days grow the warehouse the last set-up created. */
  override def setup(): Unit = {
    gen += 1
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    warehouse = new V2CatalogWarehouse(s, catalog = cat, namespace = "brew")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.b")
    val d = ctx.docs
    docCount = d.count()
    d.repartitionByRange(8, col("doc_id")).writeTo(s"$cat.b.docs_del").using("parquet")
      .createOrReplace()
    d.repartition(8).writeTo(s"$cat.b.docs_mor").using("parquet")
      .tableProperty(GraftCatalog.MergeModeProp, "merge-on-read")
      .tableProperty(GraftCatalog.MergeKeyProp, "doc_id").createOrReplace()
    expected = Map("docs_del" -> docCount, "docs_mor" -> docCount)
    s.sql(s"CREATE TABLE $cat.b.stream_sink (id STRING, brewery_type STRING, day INT) USING parquet")
    streamHistory = Nil
    lastGold = None
  }

  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new IllegalStateException(msg)

  private def table(t: String) = { s.catalog.refreshTable(s"$cat.b.$t"); s.table(s"$cat.b.$t") }

  private def read(t: String): Digest = ctx.call("storage.read")(Digest.of(table(t)))

  private def date(day: Int) = java.sql.Date.valueOf(start.plusDays(day))

  private def pipeline(day: Int, recs: Seq[String]): Digest = {
    val d = start.plusDays(day)
    ctx.call("layers.bronze") {
      ctx.call("storage.write")(warehouse.writePartitioned(Bronze.build(s, recs, d), "bronze"))
    }
    ctx.call("layers.silver") {
      ctx.call("storage.write")(warehouse.writePartitioned(
        Silver.transform(warehouse.read("bronze"), d), "silver"))
    }
    ctx.call("layers.gold") {
      ctx.call("storage.write")(warehouse.writePartitioned(
        Gold.aggregate(warehouse.read("silver"), d), "gold"))
    }
    ctx.call("storage.read")(Digest.of(warehouse.read("gold")))
  }

  private def pipelineChecks(day: Int, rerun: Boolean)(g: Digest): Unit = {
    val total = Gold.total(warehouse.read("gold").filter(col("extraction_date") === date(day)))
    check(total == recordsPerDay, s"day $day: sum(gold.brewery_count) = $total")
    val bronze = warehouse.read("bronze").count()
    check(bronze == recordsPerDay.toLong * (day + 1), s"day $day: bronze rows $bronze")
    if (rerun) check(lastGold.contains(g), s"same-date re-run changed gold: $lastGold -> $g")
    lastGold = Some(g)
  }

  private def deleteId(day: Int): Long =
    math.abs(new scala.util.Random(ctx.seed * 31 + day).nextLong()) % docCount

  private def delete(day: Int): Digest = {
    ctx.call("storage.dml")(s.sql(s"DELETE FROM $cat.b.docs_del WHERE doc_id = ${deleteId(day)}"))
    read("docs_del")
  }

  private def deleteChecks(day: Int)(d: Digest): Unit = {
    expected += "docs_del" -> (expected("docs_del") - 1)
    check(table("docs_del").filter(col("doc_id") === deleteId(day)).count() == 0,
      s"deleted id ${deleteId(day)} still present")
    check(d.rows == expected("docs_del"), s"docs_del rows ${d.rows} != ${expected("docs_del")}")
  }

  /** ~10% of documents get a day-specific source, plus a day-unique 2%
    * inserted; which ones depends on the seed. */
  private def mergeSource(day: Int): (DataFrame, DataFrame) = {
    val shift = (ctx.seed % 7).abs
    val base = ctx.docs.select(coalesce(col("doc_id"), lit(-1L)).alias("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    (base.filter(pmod(col("doc_id") + lit(shift + day), lit(10)) === 1)
      .withColumn("source", lit(s"merge-$day")),
     base.filter(pmod(col("doc_id") + lit(shift), lit(50)) === 2)
      .withColumn("doc_id", col("doc_id") + lit(10000000L * (day + 1))))
  }

  private def merge(t: String, day: Int): Digest = {
    val (updates, inserts) = mergeSource(day)
    val view = s"merge_src_${t}_$gen"
    updates.unionByName(inserts).createOrReplaceTempView(view)
    ctx.call("storage.dml")(s.sql(s"""MERGE INTO $cat.b.$t t USING $view s
      ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET source = s.source
      WHEN NOT MATCHED THEN INSERT *"""))
    read(t)
  }

  // the merge targets never lose a base document, so every update matches
  private val mergeCounts = scala.collection.mutable.Map.empty[Int, (Long, Long)]

  private def mergeChecks(t: String, day: Int)(d: Digest): Unit = {
    val (nUpd, nIns) = mergeCounts.getOrElseUpdate(day, {
      val (u, i) = mergeSource(day); (u.count(), i.count()) })
    expected += t -> (expected(t) + nIns)
    check(d.rows == expected(t), s"$t rows ${d.rows} != ${expected(t)}")
    val touched = table(t).filter(col("source") === s"merge-$day").count()
    check(touched == nUpd, s"$t: $touched rows carry merge-$day, $nUpd matched")
  }

  private def compact(): Digest = {
    val catalog = s.sessionState.catalogManager.catalog(cat).asInstanceOf[GraftCatalog]
    ctx.call("storage.compact")(catalog.compactDeletes(s, "b.docs_mor"))
    read("docs_mor")
  }

  /** Exactly-once across restarts: each day the query resumes from its
    * checkpoint (replaying nothing) and lands its micro-batches once. */
  private def streamDay(day: Int): Digest = {
    val st = new LakehouseDay.StreamState(s, s"$cat.b.stream_sink", s"$wh/_stream_ckpt",
      streamHistory.toSeq)
    try (0 until streamBatches).foreach { b =>
      ctx.call("streaming.batch")(st.push(
        (0 until streamBatchRows).map(i => (s"s$day-$b-$i", types((i + b) % 3), day))))
    } finally st.stop()
    streamHistory = st.history
    read("stream_sink")
  }

  private def streamChecks(batches: Int)(d: Digest): Unit = {
    val want = streamBatchRows.toLong * batches
    check(d.rows == want, s"stream sink rows ${d.rows} != $want")
    check(table("stream_sink").select("id").distinct().count() == want, "stream sink duplicates")
  }

  def ops(day: Int): Seq[Op] = {
    // the day's records are generated here, untimed, not inside an operation
    val recs = records(day)
    Seq(
      Op("pipeline", "relational", () => pipeline(day, recs), true,
        pipelineChecks(day, rerun = false)),
      Op("pipeline_rerun", "relational", () => pipeline(day, recs), true,
        pipelineChecks(day, rerun = true)),
      Op("dml_point_delete", "relational", () => delete(day), true, deleteChecks(day)),
      Op("dml_merge_mor", "relational", () => merge("docs_mor", day), true,
        mergeChecks("docs_mor", day)),
      Op("compact_deletes", "relational", () => compact(), true,
        d => check(d.rows == expected("docs_mor"), s"docs_mor rows ${d.rows} after compaction")),
      Op("stream_batches", "relational", () => streamDay(day), true,
        streamChecks(streamBatches * (day + 1))))
  }

  private def qualified: Seq[String] =
    Seq("bronze", "silver", "gold").map(t => s"$cat.brew.$t") ++
      Seq("docs_del", "docs_mor", "stream_sink").map(t => s"$cat.b.$t")

  /** Durability: the final tables read the same through a freshly
    * initialised catalog over the same warehouse. */
  override def finish(): Seq[String] = {
    val fresh = s"lhcheck$gen"
    s.conf.set(s"spark.sql.catalog.$fresh", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$fresh.warehouse", wh)
    qualified.flatMap { t =>
      val a = Digest.of(s.table(t))
      val b = Digest.of(s.table(t.replaceFirst(s"^$cat\\.", s"$fresh.")))
      if (a == b) None else Some(s"durability: $t reads $a, fresh catalog reads $b")
    }
  }

  override def endStats: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = qualified.map { t =>
      val parts = t.split("\\.")
      GraftCatalog.liveDataFiles(fs, new org.apache.hadoop.fs.Path(s"$wh/${parts(1)}/${parts(2)}")).size
    }.sum
    val all = org.apache.commons.io.FileUtils.listFiles(new java.io.File(wh), null, true)
      .asScala.toSeq.filterNot(_.getPath.contains("_stream_ckpt"))
    val meta = all.filter(f => f.getPath.stripPrefix(wh).split("/")
      .exists(seg => seg.startsWith("_") && !seg.startsWith("__bucket_")))
    val user = qualified.map { t =>
      s.table(t).select(sum(length(to_json(struct(col("*")))))).head().getLong(0).toDouble
    }.sum
    Map("storage.live_files" -> live.toDouble,
      "storage.tables" -> qualified.size.toDouble,
      "storage.metadata_bytes" -> meta.map(_.length).sum.toDouble,
      "storage.stored_bytes" -> all.map(_.length).sum.toDouble,
      "storage.user_bytes" -> user)
  }

  def oracle: Seq[String] = Nil

  def inputs: Map[String, Double] = Map(
    "records_per_day" -> recordsPerDay.toDouble,
    "stream_rows_per_batch" -> streamBatchRows.toDouble,
    "rows.documents" -> ctx.docs.count().toDouble)
}

object LakehouseDay {
  type Rec = (String, String, Int)

  /** A MemoryStream feeding `Streams.sinkToCatalog`. A restart replays
    * the batches already delivered into a new source, so the checkpointed
    * offsets line up and the sink must not land them twice. */
  final class StreamState(spark: SparkSession, table: String, ckpt: String,
      replay: Seq[Seq[Rec]]) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val input = MemoryStream[Rec]
    private val delivered = scala.collection.mutable.ArrayBuffer.from(replay)
    replay.foreach(b => input.addData(b: _*))
    private val query = graft.streaming.Streams.sinkToCatalog(
      input.toDF().toDF("id", "brewery_type", "day"), table, ckpt)
    if (replay.nonEmpty) query.processAllAvailable()

    def push(rows: Seq[Rec]): Unit = {
      delivered += rows
      input.addData(rows: _*)
      query.processAllAvailable()
    }
    def history: Seq[Seq[Rec]] = delivered.toSeq
    def stop(): Unit = query.stop()
  }
}
