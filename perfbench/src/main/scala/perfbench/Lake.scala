package perfbench

import java.nio.file.Paths
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ingest.SnapshotLake
import graft.ops.QueryPack.{decMoney, decRate, moneyRound, r4}
import graft.streaming.EventStreams

/** Read-only facts about a lake root, from its commit log and files. */
object LakeInfo {
  private val Rewrites = Set("merge", "delete", "compact", "optimize", "zorder")

  def liveFiles(ctx: Ctx, root: String): Int = {
    val lake = new SnapshotLake(root)
    lake.latestVersion(ctx.spark).map(v => lake.dirsAt(ctx.spark, v)
      .map(d => Fs.dataFiles(Paths.get(root, d)).size).sum).getOrElse(0)
  }

  def referencedBytes(ctx: Ctx, root: String): Long = {
    val lake = new SnapshotLake(root)
    lake.latestVersion(ctx.spark).map(v => lake.dirsAt(ctx.spark, v)
      .map(d => Fs.bytesUnder(Paths.get(root, d))).sum).getOrElse(0L)
  }

  def versions(ctx: Ctx, root: String): Int =
    new SnapshotLake(root).versions(ctx.spark).size

  /** (compaction commits, bytes of the generations rewrite commits added) */
  def rewrites(ctx: Ctx, root: String): (Int, Long) = {
    val lake = new SnapshotLake(root)
    val ops = lake.history(ctx.spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vs = lake.versions(ctx.spark)
    val compactions = ops.values.count(_ == "compact")
    val bytes = vs.filter(v => Rewrites(ops.getOrElse(v, ""))).map { v =>
      val before = if (v > vs.head) lake.dirsAt(ctx.spark, v - 1).toSet else Set.empty[String]
      lake.dirsAt(ctx.spark, v).filterNot(before).map(d => Fs.bytesUnder(Paths.get(root, d))).sum
    }.sum
    (compactions, bytes)
  }
}

/** The benchmark's own model of the lineitem table: every live row's
  * hash (computed by plain Spark over the generated batches) and the
  * columns the reads filter and aggregate on, in dense arrays indexed by
  * (orderkey, linenumber). Reads are checked against it. */
final class LakeRef(nSlots: Int) {
  private var cap = nSlots
  private var live = new Array[Boolean](cap)
  private var hash = new Array[Long](cap)
  private var lines = new Array[Gen.Line](cap)
  var count = 0L
  var sum = 0L

  private def slot(k: Long, ln: Int): Int = (k * 8 + ln).toInt

  private def grow(s: Int): Unit = if (s >= cap) {
    cap = math.max(s + 1, cap * 2)
    live = java.util.Arrays.copyOf(live, cap)
    hash = java.util.Arrays.copyOf(hash, cap)
    lines = java.util.Arrays.copyOf(lines, cap)
  }

  private def drop(s: Int): Unit = if (s < cap && live(s)) {
    live(s) = false; count -= 1; sum -= LakeRef.part(hash(s))
  }

  def put(l: Gen.Line, h: Long): Unit = {
    val s = slot(l.orderkey, l.linenumber)
    grow(s); drop(s)
    live(s) = true; hash(s) = h; lines(s) = l
    count += 1; sum += LakeRef.part(h)
  }

  def deleteOrder(k: Long): Unit = (1 to 7).foreach(ln => drop(slot(k, ln)))

  def digest: (Long, Long) = (count, sum)

  private def fold(p: Gen.Line => Boolean): (Long, Long) = {
    var c = 0L; var s = 0L; var i = 0
    while (i < cap) {
      if (live(i) && p(lines(i))) { c += 1; s += LakeRef.part(hash(i)) }
      i += 1
    }
    (c, s)
  }

  def range(d0: Int, d1: Int): (Long, Long) = fold(l => l.shipDay >= d0 && l.shipDay < d1)
  def point(k: Long): (Long, Long) = fold(_.orderkey == k)

  /** q1 rows: (flag, status) → (sum_qty, base, disc_price, charge, count),
    * money as exact decimals rounded half-up to cents. */
  def q1(cutoffDay: Int): Map[(String, String), Seq[BigDecimal]] = {
    val acc = mutable.Map.empty[(String, String), Array[Long]]
    var i = 0
    while (i < cap) {
      if (live(i) && lines(i).shipDay <= cutoffDay) {
        val l = lines(i)
        val a = acc.getOrElseUpdate((l.returnflag, l.linestatus), new Array[Long](5))
        a(0) += l.qty; a(1) += l.priceCents
        a(2) += l.priceCents * (100 - l.discPct)
        a(3) += l.priceCents * (100 - l.discPct) * (100 + l.taxPct)
        a(4) += 1
      }
      i += 1
    }
    acc.map { case (k, a) =>
      def cents(v: Long, scale: Int) =
        BigDecimal(BigInt(v), scale).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      k -> Seq(BigDecimal(a(0)), cents(a(1), 2), cents(a(2), 4), cents(a(3), 6), BigDecimal(a(4)))
    }.toMap
  }
}

object LakeRef {
  val Mod = 2147483647L
  def part(h: Long): Long = java.lang.Math.floorMod(h, Mod)
}

/** `lake`: a closed-loop mix of writes and reads over a SnapshotLake
  * lineitem table loaded at set-up with auto-compaction and auto-Blooms
  * on. One cycle is nine operations: two appends (every fourth append
  * adds a column), one upsert through the foreachBatch upsert sink, two
  * deletes (one recent order, one base order), one point lookup, one
  * shipdate range scan, one q1-shaped aggregate and one time-travel
  * read. Every cycle has the same shape; the seed picks keys and values. */
final class LakeWorkload(ctx: Ctx) extends Workload(ctx) {
  import LakeWorkload._

  private val nOrders = math.max(200, (150000 * ctx.scale).toInt)
  private val appendOrders = math.max(4, (500 * ctx.scale).toInt)
  private val upsertRows = math.max(8, (200 * ctx.scale).toInt)
  private val basePath = ctx.path("input/lineitem.parquet")
  private var base: Array[Gen.Line] = _
  private var baseHashes: Array[Long] = _
  private var root: String = _
  /** Base orders present in the current lake. */
  private var coldOrders = 0
  private var coldPool: Array[Long] = _
  private var chunkStart: Array[Int] = _
  private var lake: SnapshotLake = _
  private var ref: LakeRef = _
  private val versionDigest = mutable.Map.empty[Long, (Long, Long)]

  // schedule state, reset with each lake
  private var r: SplittableRandom = _
  private var nextKey = 0L
  private var appends = 0
  private var upserts = 0
  private var evolved = 0
  private var recent = mutable.Queue.empty[Seq[Gen.Line]]
  private var userBytes = 0L
  private var bytesAtStart = 0L
  // traced-run counters
  private val filesRatio = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def generate(): Unit = {
    base = Gen.baseLines(ctx.seed, nOrders)
    // load chunks of equal row counts, cut at shipdate quantiles
    val days = base.map(_.shipDay).sorted
    chunkStart = (0 until Chunks).map(c => if (c == 0) 0 else days(c * days.length / Chunks)).toArray :+
      (days.last + 1)
    def chunkOf(day: Int) = chunkStart.lastIndexWhere(_ <= day)
    // cold deletes pick orders that sit wholly in one chunk, so each
    // rewrites one base generation
    coldPool = base.groupBy(_.orderkey).collect {
      case (k, ls) if ls.map(l => chunkOf(l.shipDay)).distinct.size == 1 => k
    }.toArray.sorted
    Gen.baseFrame(spark, ctx.seed, nOrders).write.parquet(basePath)
    baseHashes = base.map(Gen.lineHash(_, Nil))
    // the driver-side hash must agree with Spark's over the stored rows
    val sample = spark.read.parquet(basePath).filter(col("l_orderkey") <= 50)
      .select(col("l_orderkey"), col("l_linenumber"), rowHash(BaseCols)).collect()
      .map(r => (r.getLong(0) * 8 + r.getInt(1)) -> r.getLong(2)).toMap
    val mine = base.indices.filter(i => base(i).orderkey <= 50)
      .map(i => (base(i).orderkey * 8 + base(i).linenumber) -> baseHashes(i)).toMap
    require(sample == mine, "driver-side row hashes disagree with Spark's xxhash64")
  }

  /** One cycle against a throw-away lake of the first 1% of the orders:
    * the same code paths at a fraction of the data. */
  override def warmup(): Unit = {
    val orders = math.max(WarmOrders, nOrders / 100)
    load("warm", orders)
    initModel(orders)
    cycle()
  }

  def setup(rep: Int): Unit = load(rep.toString, nOrders)

  override def afterSetup(rep: Int): Unit = initModel(nOrders)

  def cycleSeconds: Double = 6.0

  /** A fresh lake holding the base orders up to `orders`. */
  private def load(tag: String, orders: Int): Unit = {
    root = ctx.path(s"lake$tag")
    lake = new SnapshotLake(root)
    lake.enableAutoBlooms(spark, Seq("l_orderkey"), expectedNdvPerFile = BloomNdv)
    lake.enableAutoCompact(spark, maxSmallGens = 4, smallBytes = 1L << 20)
    val input = spark.read.parquet(basePath).filter(col("l_orderkey") <= orders)
    for (c <- 0 until Chunks) {
      lake.commit(input.filter(col("l_shipdate") >= dayTs(chunkStart(c)) &&
        col("l_shipdate") < dayTs(chunkStart(c + 1))).coalesce(2))
    }
  }

  /** The reference model and schedule for the lake just loaded. */
  private def initModel(orders: Int): Unit = {
    coldOrders = orders
    val loaded = lake.latestVersion(spark).get
    ref = new LakeRef((nOrders + 1) * 8 * 2)
    base.indices.filter(base(_).orderkey <= orders).foreach(i => ref.put(base(i), baseHashes(i)))
    versionDigest.clear()
    versionDigest(loaded) = ref.digest
    resetSchedule()
    bytesAtStart = Fs.bytesUnder(Paths.get(root))
  }

  private def resetSchedule(): Unit = {
    r = new SplittableRandom(ctx.seed ^ 0x1a4eL)
    nextKey = nOrders + 1L
    appends = 0; upserts = 0; evolved = 0
    recent = mutable.Queue.empty
    userBytes = 0L
  }

  private def snapshot: DataFrame = spark.read.format("snaplake").load(root)

  private def canonical(df: DataFrame): Seq[String] =
    BaseCols ++ (1 to evolved).map(evolvedCol).filter(df.columns.contains)

  /** A read is right when its digest equals the reference's; with
    * --plant the first expectation is corrupted once. */
  private def same(got: (Long, Long), want: (Long, Long)): Boolean =
    got == (if (plantOnce()) (want._1 + 1, want._2) else want)

  private def digestOf(df: DataFrame): (Long, Long) = {
    val row = df.select(rowHash(canonical(df)).as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(LakeRef.Mod))), lit(0L)))
      .collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  /** Record the reference digest for every version the last write made. */
  private def noteVersions(): Unit = {
    val d = ref.digest
    val latest = lake.latestVersion(spark).get
    ((versionDigest.keys.max + 1) to latest).foreach(v => versionDigest(v) = d)
  }

  /** A timed write; `after` applies it to the reference. Writes are
    * checked through the reads that follow and the final comparison. */
  private def write(name: String)(body: => Unit)(after: => Unit): Op =
    op("write", name)(tracer.span(name)(body)) { after; noteVersions(); true }

  /** A timed read into the noop sink. Its check runs the same read again
    * after the clock stops. */
  private def read(name: String, df: => DataFrame)(expect: DataFrame => Boolean): Op = {
    var frame: DataFrame = null
    if (tracer.enabled) tracer.clearScanFiles()
    op("read", name)(tracer.span(name) {
      frame = df
      tracer.plan(frame)
      Clock.noop(frame)
    }) {
      if (tracer.enabled && name.startsWith("sources.")) {
        val files = tracer.lastScanFiles()
        val liveN = LakeInfo.liveFiles(ctx, root)
        if (files >= 0 && liveN > 0)
          filesRatio.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += files.toDouble / liveN
      }
      expect(frame)
    }
  }

  private def appendOp(): Op = {
    val a = appends
    appends += 1
    if (a % 4 == 3) evolved += 1
    val day = Gen.BaseDays + 2 * a
    val lines = (0 until appendOrders).flatMap { _ =>
      val k = nextKey; nextKey += 1
      Gen.order(r, k, day + r.nextInt(2))
    }
    recent.enqueue(lines)
    if (recent.size > 4) recent.dequeue()
    val n = evolved
    def extra(l: Gen.Line) = (1 to n).map(i => evolvedValue(i, l.orderkey))
    val df0 = Gen.lineFrame(spark, lines)
    val df = (1 to n).foldLeft(df0) { (d, i) =>
      d.withColumn(evolvedCol(i), concat(lit(s"t${i}_"), (col("l_orderkey") % 97).cast("string")))
    }
    userBytes += lines.map(l => RowBytes + extra(l).map(_.length).sum).sum
    write("ingest.commit")(lake.commit(df)) {
      lines.foreach(l => ref.put(l, Gen.lineHash(l, extra(l))))
    }
  }

  /** Upserts rewrite recent rows (new quantities), keyed on
    * (l_orderkey, l_linenumber). */
  private def upsertOp(): Op = {
    val pool = recent.flatten.toIndexedSeq
    val lines = Iterator.continually(pool(r.nextInt(pool.size)))
      .map(l => (l.orderkey, l.linenumber) -> l).take(upsertRows * 3).toMap.values
      .toSeq.sortBy(l => (l.orderkey, l.linenumber)).take(upsertRows)
      .map(l => l.withQty(1 + r.nextInt(50)))
    val df = Gen.lineFrame(spark, lines)
    val batchId = upserts.toLong
    upserts += 1
    userBytes += lines.size.toLong * RowBytes
    write("streaming.upsert")(
      EventStreams.snaplakeUpsertSink(lake, Seq("l_orderkey", "l_linenumber"))(df, batchId)) {
      lines.foreach(l => ref.put(l, Gen.lineHash(l, Nil)))
    }
  }

  /** Deletes one order: a recent one (hot) or a base one (cold, which
    * rewrites the base generation holding it). */
  private def deleteOp(cold: Boolean): Op = {
    val k =
      if (!cold) { val p = recent.flatten.toIndexedSeq; p(r.nextInt(p.size)).orderkey }
      else {
        val n = coldPool.indexWhere(_ > coldOrders) match { case -1 => coldPool.length; case i => i }
        coldPool(r.nextInt(n))
      }
    userBytes += 8
    write("ingest.delete")(lake.delete(spark, col("l_orderkey") === k)) {
      ref.deleteOrder(k)
    }
  }

  private def rangeOp(): Op = {
    val d0 = r.nextInt(Gen.BaseDays + 121 + 2 * appends)
    read("sources.scan_range", snapshot.filter(col("l_shipdate") >= dayTs(d0) &&
      col("l_shipdate") < dayTs(d0 + 30)))(df => same(digestOf(df), ref.range(d0, d0 + 30)))
  }

  private def pointOp(): Op = {
    val k =
      if (r.nextBoolean() && recent.nonEmpty) { val p = recent.flatten.toIndexedSeq; p(r.nextInt(p.size)).orderkey }
      else 1L + r.nextInt(coldOrders)
    read("sources.scan_point", snapshot.filter(col("l_orderkey") === k))(
      df => same(digestOf(df), ref.point(k)))
  }

  private def aggregateOp(): Op =
    read("ops.aggregate", q1(snapshot)) { df =>
      val got = df.collect().map { row =>
        (row.getString(0), row.getString(1)) -> Seq(BigDecimal(row.getDouble(2)),
          BigDecimal(row.getDouble(3)), BigDecimal(row.getDouble(4)),
          BigDecimal(row.getDouble(5)), BigDecimal(row.getLong(9)))
      }.toMap
      val want = ref.q1(Q1CutoffDay)
      got.keySet == want.keySet && got.forall { case (k, vs) =>
        vs.zip(want(k)).forall { case (a, b) => a.compare(b) == 0 } }
    }

  private def timeTravelOp(): Op = {
    val vs = versionDigest.keys.toIndexedSeq.sorted
    val v = vs(r.nextInt(vs.size))
    read("ingest.time_travel", lake.readAt(spark, v))(df => same(digestOf(df), versionDigest(v)))
  }

  def cycle(): Seq[Op] = Seq(
    appendOp(), rangeOp(), upsertOp(), pointOp(), appendOp(), aggregateOp(),
    deleteOp(cold = false), timeTravelOp(), deleteOp(cold = true))

  /** The latest version as a whole must equal the reference. */
  override def finish(): Int =
    if (digestOf(snapshot) == ref.digest) 0
    else { failures += "final table differs from the reference"; 1 }

  def writeAmp: Double =
    (Fs.bytesUnder(Paths.get(root)) - bytesAtStart).toDouble / math.max(1L, userBytes)

  def spaceAmp: Double =
    Fs.bytesUnder(Paths.get(root)).toDouble / math.max(1L, LakeInfo.referencedBytes(ctx, root))

  override def layerMetrics(): Map[String, Double] = {
    val (compactions, rewritten) = LakeInfo.rewrites(ctx, root)
    filesRatio.map { case (n, xs) => s"$n.files_read_ratio" -> xs.sum / xs.size }.toMap ++ Map(
      "ingest.live_files" -> LakeInfo.liveFiles(ctx, root).toDouble,
      "ingest.versions" -> LakeInfo.versions(ctx, root).toDouble,
      "ingest.compactions" -> compactions.toDouble,
      "ingest.bytes_rewritten_mb" -> rewritten / 1e6)
  }
}

object LakeWorkload {
  val Chunks = 4
  /** Distinct order keys per base file are ~19k at scale 1; the Bloom is
    * sized above that so a cold delete rarely touches a second chunk. */
  val BloomNdv = 50000
  val WarmOrders = 200
  val BaseCols: Seq[String] = Gen.LineSchema.fieldNames.toSeq
  /** Uncompressed bytes of one base-column row: 7 eight-byte values, one
    * int, two one-char flags. */
  val RowBytes = 7 * 8 + 4 + 2
  val Q1CutoffDay: Int = Gen.BaseDays

  def evolvedCol(i: Int): String = s"x_c$i"
  def evolvedValue(i: Int, orderkey: Long): String = s"t${i}_${orderkey % 97}"

  def dayTs(day: Int): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Gen.Day0.plusDays(day.toLong).toEpochDay * 86400L)))

  def rowHash(cols: Seq[String]): Column = xxhash64(cols.map(col): _*)

  /** TPC-H q1's shape with exact decimal money sums. */
  def q1(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") <= dayTs(Q1CutoffDay))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(decMoney(col("l_extendedprice"))).as("s_base"),
        sum(decMoney(col("l_extendedprice")) * (lit(1) - decRate(col("l_discount")))).as("s_disc"),
        sum(decMoney(col("l_extendedprice")) * (lit(1) - decRate(col("l_discount")))
          * (lit(1) + decRate(col("l_tax")))).as("s_charge"),
        sum(decRate(col("l_discount"))).as("s_d"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        moneyRound(col("s_base")).as("sum_base_price"),
        moneyRound(col("s_disc")).as("sum_disc_price"),
        moneyRound(col("s_charge")).as("sum_charge"),
        r4(col("sum_qty") / col("count_order")).as("avg_qty"),
        r4(col("s_base").cast("double") / col("count_order")).as("avg_price"),
        r4(col("s_d").cast("double") / col("count_order")).as("avg_disc"),
        col("count_order"))
}
