package graftbench

import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.core.ManifestTable

/** Table commits on both formats: one `USING manifest` table seeded from
  * lineitem-shaped rows over eight range-disjoint files, and one
  * `USING keyedlog` catalog table. A seeded stream of statements writes
  * (small INSERTs, key-range DELETEs on the fast path and the group-based
  * path, UPDATEs, MERGE upserts, a periodic `CALL ... compact`) and reads
  * (selective scans; time-travel reads, half on the last 8 versions, which
  * stay inside ManifestTable's 32-entry resolved-state cache, half on older
  * versions beyond it). Every round ends with `CALL compact` on the
  * keyedlog table. The fixture commits a history of small appends so old
  * versions exist from the first round; the run crosses several 10-version
  * checkpoint cycles and ends with one vacuum. */
final class TableDml(seed: Long) extends Workload {
  import TableDml._

  private val rng = new SplittableRandom(seed)
  // statement sizes in antithetic pairs, so every run changes the same number of rows
  private val insertSizes = new Antithetic(rng)
  private val widths = new Antithetic(rng)
  private val mergeSizes = new Antithetic(rng)
  private val readWidths = new Antithetic(rng)
  private var spark: SparkSession = _
  private var root: String = _
  private var liDir: String = _
  private var klDir: String = _
  // key range [lo, hi] of each seed file, in key order
  private var seedFiles = IndexedSeq.empty[(Long, Long)]

  // models: manifest version -> key -> row; keyedlog seq -> (key, metric)
  private var li = TreeMap.empty[Long, Li]
  private val liAt = mutable.Map.empty[Long, TreeMap[Long, Li]]
  private var kl = TreeMap.empty[Long, (String, Long)]
  private var nextK = 0L
  private var nextSeq = 0L
  private var head = 0L

  // layer accounting, keyed by op id
  private val versionsPerWrite = mutable.Map.empty[Int, Double]
  private val markers = mutable.Map.empty[Int, (Double, Double, Double)] // markers, ckpts, marker bytes
  private val rewrites = mutable.Map.empty[Int, (Double, Double)] // files rewritten, rows rewritten
  private val changed = mutable.Map.empty[Int, Double]
  private val filesRead = mutable.Map.empty[Int, Double] // files read ÷ live files
  private val journal = mutable.Map.empty[Int, Double]

  override def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    root = s"file://$dir/tables"
    graft.catalog.GraftCatalog.register(spark, "bench", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bench.db")
    spark.sql(s"CREATE TABLE bench.db.li ($LiSchema) USING manifest")
    spark.sql("CREATE TABLE bench.db.kl (key STRING, seq BIGINT, metric BIGINT) USING keyedlog")
    liDir = s"$root/db/li"
    klDir = spark.sql("SHOW TBLPROPERTIES bench.db.kl").collect()
      .find(_.getString(0) == "graft.location").map(_.getString(1)).getOrElse(s"$root/db/kl")
    li = TreeMap.empty; liAt.clear(); kl = TreeMap.empty; nextK = 0L; nextSeq = 0L; liDml = 0; klDml = 0
    versionsPerWrite.clear(); markers.clear(); rewrites.clear(); changed.clear()
    filesRead.clear(); journal.clear()
    val fr = new SplittableRandom(seed ^ 0x7ab1eL)
    // lineitem-shaped seed rows over eight range-disjoint files
    val seedRows = (0 until SeedRows).map(_ => newLi(fr))
    view(seedRows).createOrReplaceTempView("seed_li")
    spark.sql("INSERT INTO bench.db.li SELECT /*+ REPARTITION_BY_RANGE(8, k) */ * FROM seed_li")
    li ++= seedRows
    seedFiles = keyRanges(ManifestTable.state(liDir, ManifestTable.currentVersion(liDir).get).files.toSeq)
      .map(r => (r._2, r._3)).toIndexedSeq
    require(seedFiles.length == Strata, s"the seed insert wrote ${seedFiles.length} files, not $Strata")
    val klRows = (0 until KlSeedRows).map(_ => newKl(fr))
    klView(klRows).createOrReplaceTempView("seed_kl")
    spark.sql("INSERT INTO bench.db.kl SELECT /*+ REPARTITION(4) */ * FROM seed_kl")
    kl ++= klRows.map(r => r._2 -> ((r._1, r._3)))
    // a history of small appends, so versions beyond the state cache exist:
    // staged in one write (range-disjoint files), then committed one file
    // per version. Field ids are stamped as the catalog declares them, so
    // the mapped table resolves these columns like its own inserts.
    val hist = (0 until HistoryCommits * 8).map(_ => newLi(fr))
    val declared = spark.table("bench.db.li").schema
    val staged = ManifestTable.stagePool(stamped(view(hist), declared)
      .repartitionByRange(HistoryCommits, org.apache.spark.sql.functions.col("k")), liDir)
    // each staged file holds one key range; commit them in key order and
    // keep the model of every version
    keyRanges(staged).foreach { case (path, lo, hi) =>
      val v = ManifestTable.commitStagedAppend(liDir, staged.filter(f => path.endsWith(f)))
      li ++= hist.filter { case (k, _) => k >= lo && k <= hi }
      liAt(v) = li
    }
    require(li.size == SeedRows + hist.length, s"history model holds ${li.size} rows")
    head = ManifestTable.currentVersion(liDir).get
  }

  /** (path, min k, max k) of each of the table's data files, in key order. */
  private def keyRanges(files: Seq[String]): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.functions.{input_file_name, max, min}
    spark.read.parquet(files.map(f => s"$liDir/$f"): _*)
      .groupBy(input_file_name().as("f")).agg(min("k"), max("k")).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._2)
  }

  private def stamped(df: DataFrame, declared: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(declared.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      val md = if (f.metadata.contains(FieldId)) f.metadata
        else new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata).putLong(FieldId, i + 1L).build()
      df.col(f.name).as(f.name, md)
    }: _*)

  private def newLi(r: SplittableRandom): (Long, Li) = {
    nextK += 1 + r.nextInt(3)
    val order = nextK / 8
    (nextK, Li(order, (nextK % 8).toInt, 1 + r.nextInt(50), (r.nextInt(9_000_000) + 100_000) / 100.0,
      r.nextInt(11) / 100.0, Flags(r.nextInt(Flags.length)), 9000 + r.nextInt(2500)))
  }

  private def newKl(r: SplittableRandom): (String, Long, Long) = {
    nextSeq += 1
    (s"k${r.nextInt(8)}", nextSeq, r.nextInt(1_000_000).toLong)
  }

  private def view(rows: Seq[(Long, Li)]): DataFrame = {
    val session = spark; import session.implicits._
    rows.map { case (k, l) => (k, l.orderkey, l.linenumber, l.quantity, l.price, l.discount, l.flag,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(l.shipday.toLong)))
    }.toDF("k", "orderkey", "linenumber", "quantity", "price", "discount", "flag", "shipdate")
  }

  private def klView(rows: Seq[(String, Long, Long)]): DataFrame = {
    val session = spark; import session.implicits._
    rows.toDF("key", "seq", "metric")
  }

  // ---- the statement stream ----

  /** A key range [lo, hi] of `width` consecutive keys of `keys`, starting
    * in the given eighth of them at a seeded offset, or anywhere. */
  private def range(keys: IndexedSeq[Long], width: Int, stratum: Option[Int]): (Long, Long) = {
    val n = keys.length
    val i = stratum match {
      case Some(s) =>
        val lo = s * n / Strata
        lo + rng.nextInt(math.max(1, (s + 1) * n / Strata - lo - width))
      case None => rng.nextInt(math.max(1, n - width))
    }
    (keys(i), keys(math.min(n - 1, i + width - 1)))
  }

  private var liDml = 0
  private var klDml = 0
  /** Manifest writes fall inside the key range of the next seed file of a
    * fixed rotation, at a seeded offset: every run rewrites the same files,
    * so the pools vacuum can drop, and `storage_amp`, do not depend on the
    * seed. */
  private def liveRange(width: Int, write: Boolean = true): (Long, Long) =
    if (write) {
      liDml += 1
      val (lo, hi) = seedFiles(Rotation(liDml % Strata))
      range(li.range(lo, hi + 1).keysIterator.toIndexedSeq, width, None)
    } else range(li.keysIterator.toIndexedSeq, width, None)
  /** Keyedlog writes start in the next eighth of a fixed rotation over the
    * seed rows' seqs, at a seeded offset: each one rewrites (and leaves
    * tombstones of) the large per-key files, never only the small files of
    * recent inserts, so `storage_amp` does not depend on the seed. */
  private def seqRange(width: Int, write: Boolean = true): (Long, Long) =
    if (write) {
      klDml += 1
      range(kl.range(1L, KlSeedRows + 1L).keysIterator.toIndexedSeq, width, Some(Rotation(klDml % Strata)))
    } else range(kl.keysIterator.toIndexedSeq, width, None)

  /** One committing statement on the manifest table, with the log-side
    * accounting done by listing the table directory around it. */
  private def liWrite(ctx: Ctx, name: String, rowsChanged: Long, sql: String)(apply: => Unit): Unit = {
    val before = head
    val m0 = Dirs.bytesOf(Dirs.localPath(liDir), "_commit_")
    val c0 = Dirs.count(Dirs.localPath(liDir), "_ckpt_")
    ctx.write(s"sql.li.$name", rowsChanged) {
      ctx.span("catalog.stmt")(spark.sql(sql).collect())
    }.foreach { _ =>
      apply
      val after = ctx.span("core.log.current_version")(ManifestTable.currentVersion(liDir).get)
      val m1 = Dirs.bytesOf(Dirs.localPath(liDir), "_commit_")
      val added = m1.keySet -- m0.keySet
      val id = ctx.ops.last.id
      versionsPerWrite(id) = (after - before).toDouble
      markers(id) = (added.size.toDouble, (Dirs.count(Dirs.localPath(liDir), "_ckpt_") - c0).toDouble,
        added.toSeq.map(m1).sum.toDouble / math.max(1, added.size))
      if (!name.startsWith("insert")) {
        val (_, removed) = ManifestTable.diff(liDir, before, after)
        val st0 = ManifestTable.state(liDir, before)
        rewrites(id) = (removed.size.toDouble, removed.map(f => st0.stats.get(f).map(_.rowCount).getOrElse(0L)).sum.toDouble)
        changed(id) = rowsChanged.toDouble
      }
      ctx.check(after == before + 1, s"$name moved the manifest log from v$before to v$after")
      head = after
      liAt(head) = li
    }
  }

  private def klWrite(ctx: Ctx, name: String, rowsChanged: Long, sql: String)(apply: => Unit): Unit = {
    val j0 = Dirs.count(Dirs.localPath(klDir), "_klogv_")
    ctx.write(s"sql.kl.$name", rowsChanged) {
      ctx.span("sources.keyedlog.write")(spark.sql(sql).collect())
    }.foreach { _ =>
      apply
      journal(ctx.ops.last.id) = (Dirs.count(Dirs.localPath(klDir), "_klogv_") - j0).toDouble
    }
  }

  private def insertLi(ctx: Ctx): Unit = {
    val rows = (0 until insertSizes.next(20, 200)).map(_ => newLi(rng))
    view(rows).createOrReplaceTempView("src_li")
    liWrite(ctx, "insert", rows.length, "INSERT INTO bench.db.li SELECT * FROM src_li") { li ++= rows }
  }

  private def deleteLi(ctx: Ctx, groupBased: Boolean): Unit = {
    val (lo, hi) = liveRange(widths.next(20, 80))
    val n = li.range(lo, hi + 1).size
    val extra = if (groupBased) " AND length(flag) > 0" else ""
    liWrite(ctx, if (groupBased) "delete_group" else "delete_fast", n,
      s"DELETE FROM bench.db.li WHERE k BETWEEN $lo AND $hi$extra") { li = li -- li.range(lo, hi + 1).keys }
  }

  private def updateLi(ctx: Ctx): Unit = {
    val (lo, hi) = liveRange(widths.next(20, 80))
    val hit = li.range(lo, hi + 1)
    liWrite(ctx, "update", hit.size,
      s"UPDATE bench.db.li SET quantity = quantity + 1 WHERE k BETWEEN $lo AND $hi") {
      li = li ++ hit.map { case (k, r) => k -> r.copy(quantity = r.quantity + 1) }
    }
  }

  private def mergeLi(ctx: Ctx): Unit = {
    val (lo, hi) = liveRange(mergeSizes.next(20, 60))
    val upd = li.range(lo, hi + 1).toSeq.map { case (k, r) => k -> r.copy(price = r.price + 1, flag = "M") }
    val ins = (0 until mergeSizes.next(20, 60)).map(_ => newLi(rng))
    view(upd ++ ins).createOrReplaceTempView("src_merge")
    liWrite(ctx, "merge", upd.length + ins.length,
      """MERGE INTO bench.db.li t USING src_merge s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin) {
      li = li ++ upd ++ ins
    }
  }

  private def insertKl(ctx: Ctx): Unit = {
    val rows = (0 until insertSizes.next(20, 200)).map(_ => newKl(rng))
    klView(rows).createOrReplaceTempView("src_kl")
    klWrite(ctx, "insert", rows.length, "INSERT INTO bench.db.kl SELECT * FROM src_kl") {
      kl ++= rows.map(r => r._2 -> ((r._1, r._3)))
    }
  }

  private def deleteKl(ctx: Ctx): Unit = {
    val (lo, hi) = seqRange(widths.next(20, 80))
    klWrite(ctx, "delete", kl.range(lo, hi + 1).size, s"DELETE FROM bench.db.kl WHERE seq BETWEEN $lo AND $hi") {
      kl = kl -- kl.range(lo, hi + 1).keys
    }
  }

  private def updateKl(ctx: Ctx): Unit = {
    val (lo, hi) = seqRange(widths.next(20, 80))
    val hit = kl.range(lo, hi + 1)
    klWrite(ctx, "update", hit.size,
      s"UPDATE bench.db.kl SET metric = metric + 1 WHERE seq BETWEEN $lo AND $hi") {
      kl = kl ++ hit.map { case (s, (k, m)) => s -> ((k, m + 1)) }
    }
  }

  private def mergeKl(ctx: Ctx): Unit = {
    val (lo, hi) = seqRange(mergeSizes.next(20, 60))
    val upd = kl.range(lo, hi + 1).toSeq.map { case (s, (k, m)) => (k, s, m * 2) }
    val ins = (0 until mergeSizes.next(20, 60)).map(_ => newKl(rng))
    klView(upd ++ ins).createOrReplaceTempView("src_kl_merge")
    klWrite(ctx, "merge", upd.length + ins.length,
      """MERGE INTO bench.db.kl t USING src_kl_merge s ON t.key = s.key AND t.seq = s.seq
        |WHEN MATCHED THEN UPDATE SET metric = s.metric WHEN NOT MATCHED THEN INSERT *""".stripMargin) {
      kl = kl ++ (upd ++ ins).map(r => r._2 -> ((r._1, r._3)))
    }
  }

  // ---- reads ----

  /** Selective scan of version `v` of the manifest table (the head when
    * `v` is None). The read path resolves the version's state through
    * ManifestTable first, then runs the query. */
  private def liRead(ctx: Ctx, name: String, v: Option[Long]): Unit = {
    val (lo, hi) = liveRange(readWidths.next(100, 300), write = false)
    val at = v.getOrElse(head)
    val model = liAt(at).range(lo, hi + 1)
    val asOf = v.map(x => s" VERSION AS OF $x").getOrElse("")
    val layerName = if (v.isDefined && at < head - 7) "core.log.state_old" else "core.log.state_recent"
    ctx.read(s"sql.li.$name") {
      val version = if (v.isEmpty) ctx.span("core.log.current_version")(ManifestTable.currentVersion(liDir).get) else at
      val live = ctx.span(layerName)(ManifestTable.state(liDir, version)).files.size
      ctx.span("catalog.stmt") {
        val df = spark.sql(s"SELECT * FROM bench.db.li$asOf WHERE k BETWEEN $lo AND $hi")
        (df.collect(), live, df)
      }
    }.foreach { case (rows, live, df) =>
      val got = rows.map(r => r.getLong(0) -> liOf(r)).toMap
      ctx.check(got.size == rows.length && got == model,
        s"$name at v$at [$lo, $hi]: ${rows.length} rows read, model ${model.size}" +
          (if (got.size == model.size) s"; first mismatch ${model.find { case (k, r) => !got.get(k).contains(r) }}" else ""))
      if (ctx.ops.last.traced) filesRead(ctx.ops.last.id) = scannedFiles(df.queryExecution.executedPlan) / math.max(1.0, live)
    }
  }

  private def klRead(ctx: Ctx): Unit = {
    val (lo, hi) = seqRange(readWidths.next(100, 300), write = false)
    val model = kl.range(lo, hi + 1)
    ctx.read("sql.kl.select") {
      ctx.span("sources.keyedlog.read")(
        spark.sql(s"SELECT key, seq, metric FROM bench.db.kl WHERE seq BETWEEN $lo AND $hi").collect())
    }.foreach { rows =>
      val got = rows.map(r => r.getLong(1) -> ((r.getString(0), r.getLong(2)))).toMap
      ctx.check(got.size == rows.length && got == model,
        s"keyedlog read [$lo, $hi]: ${rows.length} rows, model ${model.size}")
    }
  }

  private def timeTravel(ctx: Ctx, recent: Boolean): Unit =
    if (recent) liRead(ctx, "time_travel_recent", Some(head - rng.nextInt(8)))
    else {
      // uniformly over versions more than 8 behind the head, from the
      // fixture's first commit on: rarely revisited, so resolved beyond
      // the state cache
      val oldest = liAt.keys.min
      liRead(ctx, "time_travel_old", Some(oldest + (rng.nextDouble() * (head - 8 - oldest)).toLong))
    }

  private def compactKl(ctx: Ctx): Unit =
    klWrite(ctx, "compact", 0, "CALL bench.system.compact('db.kl')") {}

  override def warmup(ctx: Ctx): Unit = {
    deleteLi(ctx, false); mergeLi(ctx); mergeKl(ctx)
    timeTravel(ctx, recent = false); klRead(ctx)
  }

  /** Every write is followed by one read; time-travel reads split evenly
    * between recent and old versions. */
  override def round(ctx: Ctx, r: Int): Unit = {
    insertLi(ctx); liRead(ctx, "select", None)
    insertKl(ctx); timeTravel(ctx, recent = true)
    deleteLi(ctx, groupBased = false); timeTravel(ctx, recent = false)
    updateLi(ctx); klRead(ctx)
    deleteKl(ctx); timeTravel(ctx, recent = true)
    deleteLi(ctx, groupBased = true); timeTravel(ctx, recent = false)
    mergeLi(ctx); liRead(ctx, "select", None)
    updateKl(ctx); timeTravel(ctx, recent = true)
    mergeKl(ctx); timeTravel(ctx, recent = false)
    insertLi(ctx); timeTravel(ctx, recent = true)
    deleteLi(ctx, groupBased = false); timeTravel(ctx, recent = false)
    compactKl(ctx); klRead(ctx)
  }

  override def nominalRoundS: Double = 7.0
  override def writeTailPct: Double = 55.0
  override def readTailPct: Double = 55.0

  override def finish(ctx: Ctx): Unit = {
    val cur = spark.sql("SELECT * FROM bench.db.li").collect().map(r => r.getLong(0) -> liOf(r)).toMap
    ctx.verify(cur == li, s"manifest table holds ${cur.size} rows, model ${li.size}")
    val k = spark.sql("SELECT key, seq, metric FROM bench.db.kl").collect()
      .map(r => r.getLong(1) -> ((r.getString(0), r.getLong(2)))).toMap
    ctx.verify(k == kl, s"keyedlog table holds ${k.size} rows, model ${kl.size}")
    val vac = scala.util.Try(spark.sql("CALL bench.system.vacuum('db.li', keep => 2)").collect())
    ctx.verify(vac.isSuccess, s"vacuum failed: ${vac.failed.map(_.getMessage).getOrElse("")}")
    val after = spark.sql("SELECT count(*) FROM bench.db.li").head().getLong(0)
    ctx.verify(after == li.size, s"after vacuum the table counts $after rows, model ${li.size}")
  }

  override def storageAmp: Double = {
    val user = li.valuesIterator.map(_.userBytes).sum + li.size * 8L +
      kl.valuesIterator.map { case (k, _) => k.length + 16L }.sum
    (Dirs.sizeUnder(Dirs.localPath(liDir)) + Dirs.sizeUnder(Dirs.localPath(klDir))).toDouble / math.max(1L, user)
  }

  override def layerMetrics(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double] = {
    def over(m: collection.Map[Int, Double], ops: Seq[OpRec]) = ops.flatMap(o => m.get(o.id))
    val rw = traced.flatMap(o => rewrites.get(o.id))
    val ch = over(changed, traced)
    Map(
      "core.log.current_version.ms" -> Layer.spanMs(ctx, "core.log.current_version"),
      "core.log.state_recent.ms" -> Layer.spanMs(ctx, "core.log.state_recent"),
      "core.log.state_old.ms" -> Layer.spanMs(ctx, "core.log.state_old"),
      "core.log.markers_written" -> Stats.mean(traced.flatMap(o => markers.get(o.id)).map(_._1)),
      "core.log.checkpoints_written" -> Stats.mean(traced.flatMap(o => markers.get(o.id)).map(_._2)),
      "core.log.bytes_per_commit" -> Stats.mean(traced.flatMap(o => markers.get(o.id)).map(_._3)),
      "core.log.versions_per_write" -> Stats.mean(over(versionsPerWrite, traced)),
      "catalog.files_rewritten_per_dml" -> Stats.mean(rw.map(_._1)),
      "catalog.rewrite_efficiency" -> (if (rw.isEmpty) 0.0 else ch.sum / math.max(1.0, rw.map(_._2).sum)),
      "catalog.scan.files_read_ratio" -> Stats.mean(over(filesRead, traced)),
      "sources.keyedlog.write.ms" -> Layer.spanMs(ctx, "sources.keyedlog.write"),
      "sources.keyedlog.journal_entries_written" -> Stats.mean(over(journal, traced)),
      "sources.keyedlog.read.ms" -> Layer.spanMs(ctx, "sources.keyedlog.read"))
  }
}

object TableDml {
  val SeedRows = 16000
  val KlSeedRows = SeedRows / 4
  val HistoryCommits = 16
  val FieldId = "parquet.field.id"
  val Strata = 8
  val Rotation = Seq(0, 5, 2, 7, 4, 1, 6, 3)
  val Flags = Seq("A", "N", "R")
  val LiSchema = "k BIGINT, orderkey BIGINT, linenumber INT, quantity DOUBLE, price DOUBLE, " +
    "discount DOUBLE, flag STRING, shipdate DATE"

  final case class Li(orderkey: Long, linenumber: Int, quantity: Double, price: Double,
                      discount: Double, flag: String, shipday: Int) {
    def userBytes: Long = 8 + 4 + 8 + 8 + 8 + flag.length + 4
  }

  def liOf(r: Row): Li =
    Li(r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getString(6),
      r.getDate(7).toLocalDate.toEpochDay.toInt)

  /** Distinct data files the executed plan's file scans read. */
  def scannedFiles(plan: SparkPlan): Double = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case b: BatchScanExec =>
        b.inputPartitions.collect { case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq }.flatten
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(plan).distinct.size.toDouble
  }
}
