package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core._

/** The paper's own surface: bronze-lake publishes through
  * DatalakePublishService with point retrieval and pruned scans in between.
  *
  * Inputs (all from the seed): FHIR envelopes of four resource types for
  * four tenants and Binary payloads, bodies lognormal in [0.5, 8] KB; each
  * publish batch takes its `_date` from an injected clock that advances one
  * day per batch. A round is twelve publishes: one large FHIR and one
  * large Binary (100–400 documents), nine small FHIR and one small Binary
  * (1–20); FHIR publishes rotate over the resource types.
  * Sizes come in antithetic pairs (u, then 1 - u) per publish kind, so
  * every run holds the same size mix. After each publish come forty point
  * reads on Binary ids — lookups of ids written, log-uniform over them
  * (recent ids hottest, a Zipf law of exponent ~1), lookups of ids never
  * written, and existence checks, 17.5% of them misses — and two
  * tenant/date-pruned `LakeReader.readFhir(...).count()` scans per round. */
final class FhirIngest(seed: Long) extends Workload {
  import FhirIngest._

  private val rng = new SplittableRandom(seed)
  private var spark: SparkSession = _
  private var cfg: LakeConfig = _
  private var lakeDir: String = _
  private var publish: DatalakePublishService = _
  private var retrieve: DatalakeRetrieveService = _
  private var today: LocalDate = Base

  // the model: what the lake must hold
  private val docHash = mutable.LinkedHashMap.empty[String, (Int, Long)] // rel path -> (len, hash)
  private val binIds = mutable.ArrayBuffer.empty[(String, String)] // (tenant, id)
  private val binModel = mutable.Map.empty[(String, String), (String, Long)] // -> (contentType, data hash)
  private val fhirCount = mutable.Map.empty[(String, String, String), Long].withDefaultValue(0L)
  private val typeCount = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var userBytes = 0L
  private var nextId = 0L
  private var missSeq = 0L
  private var existsChecks = 0L


  // layer accounting
  private var retrieveHits = 0L
  private var retrieveCalls = 0L
  private val scanListed = mutable.ArrayBuffer.empty[(Int, Double, Double)] // (op, listed, opened)
  private val smallParts = mutable.ArrayBuffer.empty[(String, String, String)]
  private var lastLargePart: Option[(String, String, String)] = None

  override def setup(s: SparkSession, dir: String): Unit = {
    spark = s
    lakeDir = s"$dir/lake"
    cfg = LakeConfig(root = s"file://$lakeDir")
    publish = new DatalakePublishService(cfg, clock = () => today)
    retrieve = new DatalakeRetrieveService(cfg)
    resetModel()
    // fixture: one FHIR batch per tenant and one Binary batch
    val fixtureRng = new SplittableRandom(seed ^ 0x5eedL)
    Tenants.foreach { t =>
      val batch = envelopes(fixtureRng, Types(fixtureRng.nextInt(Types.length)), t, 25)
      publish.publishFhirR4(spark, t, batch.map(_._1))
      batch.foreach { case (e, rel) => record(rel, e.body) }
    }
    val bins = binaries(fixtureRng, Tenants.head, 100)
    publish.publishBinaryData(spark, Tenants.head, bins.map(b => (b._1, b._2)))
    bins.foreach(b => recordBinary(Tenants.head, b))
    tick()
  }

  private def resetModel(): Unit = {
    docHash.clear(); binIds.clear(); binModel.clear(); fhirCount.clear(); typeCount.clear()
    userBytes = 0L; nextId = 0L; today = Base; missSeq = 0L; existsChecks = 0L
    retrieveHits = 0L; retrieveCalls = 0L; scanListed.clear(); smallParts.clear(); lastLargePart = None
  }

  private def tick(): Unit = today = today.plusDays(1)

  private def newId(prefix: String): String = { nextId += 1; f"$prefix-$seed%x-$nextId%07d" }

  private def body(r: SplittableRandom, header: String): String = {
    // lognormal around ~1.6 KB, clamped to [0.5, 8] KB
    val size = math.max(512, math.min(8192, math.exp(7.4 + 0.7 * Gen.gaussian(r)).toInt))
    val sb = new StringBuilder(size + 32)
    sb.append(header).append(",\"text\":\"")
    while (sb.length < size - 2) sb.append(Alphabet.charAt(r.nextInt(Alphabet.length)))
    sb.append("\"}").toString
  }

  private def envelopes(r: SplittableRandom, rt: String, tenant: String, n: Int): Seq[(FhirEnvelope, String)] =
    (0 until n).map { _ =>
      val id = newId(rt.take(3).toLowerCase)
      val b = body(r, s"""{"resourceType":"$rt","id":"$id","meta":{"tenant":"$tenant"}""")
      (FhirEnvelope(rt, id, b), LakePath.fhirPath(rt, tenant, today, id))
    }

  /** (id, json, contentType, data) */
  private def binaries(r: SplittableRandom, tenant: String, n: Int): Seq[(String, String, String, String)] =
    (0 until n).map { _ =>
      val id = newId("bin")
      val ct = ContentTypes(r.nextInt(ContentTypes.length))
      val raw = body(r, s"""{"k":"$id"""")
      val data = java.util.Base64.getEncoder.encodeToString(raw.getBytes("UTF-8")).take(raw.length)
      (id, s"""{"resourceType":"Binary","id":"$id","contentType":"$ct","data":"$data"}""", ct, data)
    }

  private def record(rel: String, b: String): Unit = {
    docHash(rel) = (b.length, hash(b))
    userBytes += b.getBytes("UTF-8").length
    val parts = rel.split("/") // ehr/<type>/fhir_tenant_id=<t>/_date=<d>/<id>.json
    if (parts(1) != "Binary") {
      fhirCount((parts(1), parts(2).stripPrefix("fhir_tenant_id="), parts(3).stripPrefix("_date="))) += 1
      typeCount(parts(1)) += 1
    }
  }

  private def recordBinary(tenant: String, b: (String, String, String, String)): Unit = {
    record(LakePath.binaryPath(tenant, b._1), b._2)
    binIds += ((tenant, b._1))
    binModel((tenant, b._1)) = (b._3, hash(b._4))
  }

  /** Publish kinds of one round: F/B = FHIR/Binary, s/L = small/large. */
  private val Pattern = Seq("FL", "Fs", "Fs", "Fs", "Fs", "Fs", "BL", "Fs", "Fs", "Bs", "Fs", "Fs")

  // one antithetic stream per publish kind, so each kind's row total is fixed
  private val sizes = Map("FL" -> new Antithetic(rng), "BL" -> new Antithetic(rng),
    "Fs" -> new Antithetic(rng), "Bs" -> new Antithetic(rng))
  private var fhirPublishes = 0

  private def publishOp(ctx: Ctx, kind: String): Unit = {
    val tenant = Tenants(rng.nextInt(Tenants.length))
    val n = if (kind(1) == 'L') sizes(kind).next(LargeMin, LargeMax) else sizes(kind).next(1, 20)
    if (kind(0) == 'F') {
      // resource types in rotation: each type's subtree, which a pruned scan
      // lists whole, grows the same way in every run
      val rt = Types(fhirPublishes % Types.length)
      fhirPublishes += 1
      val batch = envelopes(rng, rt, tenant, n)
      val envs = batch.map(_._1)
      val part = (rt.toLowerCase, tenant, today.toString)
      ctx.write("publish_fhir_" + kind(1), n) {
        ctx.span("core.publish")(publish.publishFhirR4(spark, tenant, envs))
      }.foreach { _ =>
        batch.foreach { case (e, rel) => record(rel, e.body) }
        if (kind(1) == 'L') lastLargePart = Some(part) else smallParts += part
      }
    } else {
      val bins = binaries(rng, tenant, n)
      val pairs = bins.map(b => (b._1, b._2))
      ctx.write("publish_binary_" + kind(1), n) {
        ctx.span("core.publish")(publish.publishBinaryData(spark, tenant, pairs))
      }.foreach(_ => bins.foreach(recordBinary(tenant, _)))
    }
    tick()
  }

  /** A written Binary key: log-uniform rank over ids written (recent hottest). */
  private def writtenKey(): (String, String) = {
    val n = binIds.length
    val rank = math.min(n - 1, (math.exp(rng.nextDouble() * math.log(n + 1.0)) - 1).toInt)
    binIds(n - 1 - rank)
  }

  private def unwrittenKey(): (String, String) = {
    missSeq += 1
    (Tenants(rng.nextInt(Tenants.length)), f"miss-$seed%x-$missSeq%07d")
  }

  private def lookup(ctx: Ctx, key: (String, String), present: Boolean): Unit = {
    val (tenant, id) = key
    retrieveCalls += 1
    ctx.read("retrieve") {
      ctx.span("core.retrieve")(retrieve.retrieveBinaryData(tenant, id))
    }.foreach { got =>
      if (got.isDefined) retrieveHits += 1
      if (!present) ctx.check(got.isEmpty, s"retrieve of unwritten $id returned a document")
      else {
        val (ct, dh) = binModel(key)
        ctx.check(got.exists(d => d.id == id && d.contentType.contains(ct) && d.data.exists(hash(_) == dh)),
          s"retrieve of $id returned $got")
      }
    }
  }

  private def exists(ctx: Ctx, key: (String, String), present: Boolean): Unit = {
    retrieveCalls += 1
    ctx.read("exists") {
      ctx.span("core.retrieve")(retrieve.binaryExists(key._1, key._2))
    }.foreach { got =>
      if (got) retrieveHits += 1
      ctx.check(got == present, s"binaryExists($key) = $got, expected $present")
    }
  }

  /** Twenty point reads: sixteen lookups of written ids and three of
    * unwritten ones, then one existence check, of a written and an
    * unwritten id in turn, so about a fifth of the reads miss. Misses and
    * existence checks run several times faster than lookups that find a
    * document, and the fastest lookups move most from run to run; keeping
    * the fast reads to a fifth puts the read median well inside the found
    * lookups' latency range. */
  private def pointReads(ctx: Ctx): Unit = {
    (0 until 19).foreach(i => if (i % 6 == 5) lookup(ctx, unwrittenKey(), present = false)
      else lookup(ctx, writtenKey(), present = true))
    existsChecks += 1
    if (existsChecks % 2 == 0) exists(ctx, writtenKey(), present = true)
    else exists(ctx, unwrittenKey(), present = false)
  }

  /** A pruned scan of one (type, tenant, date) partition. */
  private def prunedScan(ctx: Ctx, part: (String, String, String)): Unit = {
    val (rt, tenant, date) = part
    val expected = fhirCount((rt, tenant, date))
    ctx.read("read_fhir") {
      ctx.span("core.read_fhir")(LakeReader.readFhir(spark, cfg, rt, Some(tenant), Some(date)).count())
    }.foreach { n =>
      ctx.check(n == expected, s"readFhir($rt, $tenant, $date).count = $n, model $expected")
      scanListed += ((ctx.ops.last.id, typeCount(rt).toDouble, expected.toDouble))
    }
  }

  /** A small-batch partition of the given resource type. */
  private def smallPart(rt: String): (String, String, String) = {
    val ofType = smallParts.filter(_._1 == rt.toLowerCase)
    ofType(rng.nextInt(ofType.length))
  }

  /** Two publishes with their scans, then a thousand point reads: the
    * lookup path is sub-millisecond, and left to compile during the timed
    * rounds its tail moved with the JIT's timing from run to run. */
  override def warmup(ctx: Ctx): Unit = {
    Seq("Fs", "Bs").foreach { kind =>
      publishOp(ctx, kind); pointReads(ctx); prunedScan(ctx, smallParts.last)
    }
    (0 until 50).foreach(_ => pointReads(ctx))
  }

  /** Scans: one of a small-batch partition, and one of the partition of
    * this round's large FHIR batch (past 32 files, Spark lists a partition
    * with a job of its own). */
  override def round(ctx: Ctx, r: Int): Unit =
    Pattern.zipWithIndex.foreach { case (kind, i) =>
      publishOp(ctx, kind)
      pointReads(ctx); pointReads(ctx)
      if (i == 5) prunedScan(ctx, smallPart(Types(r % Types.length)))
      if (i == 11) prunedScan(ctx, lastLargePart.get)
    }

  override def nominalRoundS: Double = 7.0

  override def writeTailPct: Double = 55.0
  /** p90, not the highest percentile with ten reads beyond it: p95 falls
    * where the first reads after each publish (2.5% of reads, the slowest)
    * meet the found lookups' own tail, and moved twice as much from run to
    * run as p90. */
  override def readTailPct: Double = 90.0

  override def finish(ctx: Ctx): Unit = {
    // every written key reads back byte-identical through the program
    var bad = 0
    docHash.foreach { case (rel, (len, h)) =>
      val got = retrieve.getObjectBody(rel)
      if (!got.exists(b => b.length == len && hash(b) == h)) bad += 1
    }
    ctx.verify(bad == 0, s"$bad of ${docHash.size} written documents did not read back identical")
  }

  override def storageAmp: Double = Dirs.sizeUnder(lakeDir).toDouble / math.max(1L, userBytes)

  override def layerMetrics(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double] = {
    val pubs = traced.filter(_.name.startsWith("publish_"))
    val rets = traced.filter(o => o.name == "retrieve" || o.name == "exists")
    val scans = scanListed.filter(s => traced.exists(_.id == s._1))
    Map(
      "core.publish.ms" -> Layer.spanMs(ctx, "core.publish"),
      "core.publish.spark_jobs" -> Stats.mean(pubs.map(o => ctx.counters.byOp.get(o.id).map(_.jobs.toDouble).getOrElse(0.0))),
      "core.publish.fs_write_ops" -> Stats.mean(pubs.map(_.fs.writeOps.toDouble)),
      "core.retrieve.ms" -> Layer.spanMs(ctx, "core.retrieve"),
      "core.retrieve.fs_ops" -> Stats.mean(rets.map(o => (o.fs.readOps + o.fs.writeOps + o.fs.listOps).toDouble)),
      "core.retrieve.hit_ratio" -> (if (retrieveCalls == 0) 0.0 else retrieveHits.toDouble / retrieveCalls),
      "core.read_fhir.ms" -> Layer.spanMs(ctx, "core.read_fhir"),
      "core.read_fhir.files_listed" -> Stats.mean(scans.map(_._2)),
      "core.read_fhir.files_opened_ratio" -> Stats.mean(scans.map(s => s._3 / math.max(1.0, s._2))))
  }
}

object FhirIngest {
  val Tenants = Seq("tenantA", "tenantB", "tenantC", "tenantD")
  val Types = Seq("Patient", "Observation", "Encounter", "Condition")
  val ContentTypes = Seq("application/pdf", "text/json", "image/png", "video/mp4")
  val Base: LocalDate = LocalDate.of(2024, 1, 1)
  val LargeMin = 100
  val LargeMax = 400
  private val Alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "

  /** 64-bit content hash: two MurmurHash3 passes with different seeds. */
  def hash(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c) & 0xffffffffL)
}
