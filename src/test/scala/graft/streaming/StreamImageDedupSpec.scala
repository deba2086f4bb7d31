package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.{csvFile, tempDir}
import graft.sources.CsvDialect

/** The streaming image-ingest gate ([[StreamImageDedup]]): perceptual
  * near-dup drops against the standing set, d34's smaller-id rule inside
  * a batch, cross-batch first-arrival-wins, redelivery suppression, and
  * the unparseable-pass-through contract.
  */
class StreamImageDedupSpec extends AnyFunSuite {

  import StreamTestMedia.{bmpFor, hex}

  private val P1 = 0xAAAAAAAAAAAAAAAAL // alternating
  private val P2 = 0L
  private val P3 = 0x0F0F0F0F0F0F0F0FL
  private def flip(p: Long, ks: Int*): Long = ks.foldLeft(p)((x, k) => x ^ (1L << k))

  test("gate semantics: standing drop, smaller-id peer drop, redelivery, junk pass") {
    val spark = TestSpark.spark
    import spark.implicits._
    // sanity: the builder really produces the intended hashes
    assert(graft.functions.BmpDhash.scan(bmpFor(P1)) == P1)
    assert(graft.functions.BmpDhash.scan(bmpFor(flip(P2, 5, 40))) == flip(P2, 5, 40))

    val base = Seq((1L, bmpFor(P1))).toDF("asset_id", "content")
    val dir = tempDir("simgdedup")
    def csv(rows: (Long, Array[Byte])*): String =
      "asset_id;content_hex\n" +
        rows.map { case (i, bs) => s"$i;${hex(bs)}" }.mkString("\n") + "\n"
    val junk = Array[Byte](1, 2, 3, 4)
    // batch 1: 10 ≈ base (drops), 11 new (passes), 12 ≈ peer 11 with a
    // smaller id (drops), 13 unparseable (passes through)
    csvFile(dir, "b1.csv", csv(
      10L -> bmpFor(flip(P1, 3, 17)),
      11L -> bmpFor(P2),
      12L -> bmpFor(flip(P2, 5, 40)),
      13L -> junk))
    val stream = CsvStream.readStream(spark, dir, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val perBatch = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = StreamImageDedup.start(stream, base, "simgdedup",
      (surv, id) => {
        perBatch(id) = surv.select("asset_id").collect().map(_.getLong(0)).toSet
        ()
      })
    try {
      q.processAllAvailable()
      // batch 2: 20 ≈ ACCEPTED 11 (cross-batch drop), 21 new (passes),
      // 11 redelivered verbatim (suppressed by id), 22 junk again
      // (unparseables never enter standing — the gate stays monotone and
      // junk passes every time; downstream quality gates own it)
      csvFile(dir, "b2.csv", csv(
        20L -> bmpFor(flip(P2, 60)),
        21L -> bmpFor(P3),
        11L -> bmpFor(P2),
        22L -> junk))
      q.processAllAvailable()
    } finally q.stop()
    assert(perBatch(0L) == Set(11L, 13L), s"batch 0: ${perBatch.get(0L)}")
    assert(perBatch(1L) == Set(21L, 22L), s"batch 1: ${perBatch.get(1L)}")
  }

  test("the same gate serves audio: WAV hash swap, near-dup drops, junk passes") {
    val spark = TestSpark.spark
    import spark.implicits._
    // mono 16-bit PCM rendering of a 64-bit pattern (the d82 walk)
    def wavFor(bits: Long): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(44 + 1040)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 1040)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      buf.put("data".getBytes("US-ASCII")).putInt(1040)
      var v = 10000
      for (w <- 0 to 64) {
        if (w > 0) v += (if (((bits >> (w - 1)) & 1L) == 1L) -100 else 100)
        for (_ <- 0 until 8) buf.putShort(v.toShort)
      }
      buf.array()
    }
    val base = Seq((1L, wavFor(P1))).toDF("asset_id", "content")
    val dir = tempDir("saudiodedup")
    csvFile(dir, "b1.csv", "asset_id;content_hex\n" +
      s"40;${hex(wavFor(flip(P1, 7, 33)))}\n" + // ≈ base → drops
      s"41;${hex(wavFor(P3))}\n" +              // new → passes
      s"42;${hex(Array[Byte](9, 9, 9))}\n")     // junk → passes through
    val stream = CsvStream.readStream(spark, dir, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val got = scala.collection.mutable.Set[Long]()
    val q = StreamImageDedup.start(stream, base, "saudiodedup",
      (surv, _) => { got ++= surv.select("asset_id").collect().map(_.getLong(0)); () },
      hash = graft.functions.GraftFunctions.wavEnergyHash)
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet == Set(41L, 42L), s"audio gate: $got")
  }

  test("the same gate serves video: Y4M hash swap, near-dup drops, junk passes") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 65-frame 4×4 mono Y4M rendering of a 64-bit pattern (the d85 walk)
    def y4mFor(bits: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII"))
      var v = 128
      for (k <- 0 to 64) {
        if (k > 0) v += (if (((bits >> (k - 1)) & 1L) == 1L) -1 else 1)
        out.write("FRAME\n".getBytes("US-ASCII"))
        for (_ <- 0 until 16) out.write(v)
      }
      out.toByteArray
    }
    val base = Seq((1L, y4mFor(P1))).toDF("asset_id", "content")
    val dir = tempDir("svideodedup")
    csvFile(dir, "b1.csv", "asset_id;content_hex\n" +
      s"50;${hex(y4mFor(flip(P1, 2, 44)))}\n" + // ≈ base → drops
      s"51;${hex(y4mFor(P3))}\n" +              // new → passes
      s"52;${hex(Array[Byte](9, 9, 9))}\n")     // junk → passes through
    val stream = CsvStream.readStream(spark, dir, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val got = scala.collection.mutable.Set[Long]()
    val q = StreamImageDedup.start(stream, base, "svideodedup",
      (surv, _) => { got ++= surv.select("asset_id").collect().map(_.getLong(0)); () },
      hash = graft.functions.GraftFunctions.y4mEnvelopeHash)
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet == Set(51L, 52L), s"video gate: $got")
  }

  test("store compaction: a restarted gate after compaction admits/drops identically (r15)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq((1L, bmpFor(P1))).toDF("asset_id", "content")
    val in1 = tempDir("scompact_in1")
    val store = tempDir("scompact_store") + "/store"
    // compactEvery = 1: the snapshot rewrite runs after EVERY batch, so
    // the restart below reads a compacted store, never raw appends
    csvFile(in1, "b1.csv", "asset_id;content_hex\n" +
      s"11;${hex(bmpFor(P2))}\n" + s"12;${hex(bmpFor(P3))}\n")
    val s1 = CsvStream.readStream(spark, in1, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val q1 = StreamImageDedup.start(s1, base, "scompact1", (_, _) => (),
      standingStore = Some(store), compactEvery = 1)
    try q1.processAllAvailable() finally q1.stop()
    // the compacted store is one deduped snapshot of the accepted hashes
    val snap = spark.read.parquet(store)
    assert(snap.select("asset_id").as[Long].collect().toSet == Set(11L, 12L))
    assert(snap.count() == snap.dropDuplicates("asset_id").count())

    // fresh gate, EMPTY base — standing comes only from the compacted
    // store: near-dups of batch-1 survivors must drop, novel must pass
    val in2 = tempDir("scompact_in2")
    csvFile(in2, "b1.csv", "asset_id;content_hex\n" +
      s"21;${hex(bmpFor(flip(P2, 3)))}\n" + // ≈ accepted 11 → drops
      s"22;${hex(bmpFor(P1))}\n")           // ≈ base P1, NOT in store → passes
    val s2 = CsvStream.readStream(spark, in2, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val empty = Seq.empty[(Long, Array[Byte])].toDF("asset_id", "content")
    val got = scala.collection.mutable.Set[Long]()
    val q2 = StreamImageDedup.start(s2, empty, "scompact2",
      (surv, _) => { got ++= surv.select("asset_id").as[Long].collect(); () },
      standingStore = Some(store), compactEvery = 1)
    try q2.processAllAvailable() finally q2.stop()
    assert(got.toSet == Set(22L), s"restarted-after-compaction gate: $got")
  }

  test("compaction crash window heals: live dir deleted, tmp present → restored (r15)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq((1L, bmpFor(P1))).toDF("asset_id", "content")
    val in1 = tempDir("sheal_in")
    val store = tempDir("sheal_store") + "/store"
    csvFile(in1, "b1.csv", "asset_id;content_hex\n" + s"11;${hex(bmpFor(P2))}\n")
    val s1 = CsvStream.readStream(spark, in1, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val q1 = StreamImageDedup.start(s1, base, "sheal1", (_, _) => (),
      standingStore = Some(store), compactEvery = 1)
    try q1.processAllAvailable() finally q1.stop()
    // simulate the crash strictly between compaction's delete and rename:
    // the live dir is gone and the full snapshot sits in <dir>.tmp
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(store),
      new org.apache.hadoop.fs.Path(store + ".tmp"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store)))
    // the loader restores tmp → live and the standing side is intact
    val restored = StreamImageDedup.readStore(spark, store)
    assert(restored.isDefined &&
      restored.get.select("asset_id").as[Long].collect().toSet == Set(11L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(store)),
      "heal must move the snapshot back to the live path")
  }

  test("compaction crash window: unmarked live + committed tmp → tmp wins (r16)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq((1L, bmpFor(P1))).toDF("asset_id", "content")
    val in1 = tempDir("smark_in")
    val store = tempDir("smark_store") + "/store"
    csvFile(in1, "b1.csv", "asset_id;content_hex\n" + s"11;${hex(bmpFor(P2))}\n")
    val s1 = CsvStream.readStream(spark, in1, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val q1 = StreamImageDedup.start(s1, base, "smark1", (_, _) => (),
      standingStore = Some(store), compactEvery = 1)
    try q1.processAllAvailable() finally q1.stop()
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // simulate the crash strictly inside compaction's recursive delete:
    // tmp holds the committed snapshot, live survives but its marker
    // (deleted first, atomically) and some part files are gone
    fs.rename(p(store), p(store + ".tmp"))
    fs.mkdirs(p(store))
    assert(!fs.exists(p(store + "/_SUCCESS")))
    val restored = StreamImageDedup.readStore(spark, store)
    assert(restored.isDefined &&
      restored.get.select("asset_id").as[Long].collect().toSet == Set(11L),
      "committed tmp must outrank the partially-deleted live dir")
    assert(fs.exists(p(store + "/_SUCCESS")) && !fs.exists(p(store + ".tmp")),
      "restore must leave one committed live dir")
  }

  test("no committed side fails loudly instead of emptying the gate (r16)") {
    val spark = TestSpark.spark
    val store = tempDir("sunmark_store") + "/store"
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a live dir with DATA but no _SUCCESS and no tmp snapshot: a
    // mid-delete wreck with the replacement lost — restarting with
    // whatever files survived would silently re-admit past rejects
    fs.mkdirs(new org.apache.hadoop.fs.Path(store))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(store + "/part-00000.parquet"))
    try out.write("stranded".getBytes) finally out.close()
    intercept[Exception] { StreamImageDedup.readStore(spark, store) }
  }

  test("live dir with only committer scratch is an EMPTY store, not damage (r17 advice)") {
    val spark = TestSpark.spark
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash during the very FIRST append leaves the live dir holding
    // only _temporary — no marker, no data file, no tmp. There is no
    // history to lose, so the gate must restart empty instead of being
    // unrecoverable forever
    val scratch = tempDir("sfirstcrash") + "/store"
    fs.mkdirs(new org.apache.hadoop.fs.Path(scratch + "/_temporary/0"))
    assert(StreamImageDedup.readStore(spark, scratch).isEmpty)
    // same for a fully empty live dir (the append crashed even earlier)
    val empty = tempDir("sfirstcrash2") + "/store"
    fs.mkdirs(new org.apache.hadoop.fs.Path(empty))
    assert(StreamImageDedup.readStore(spark, empty).isEmpty)
    // but scratch-only PLUS an uncommitted tmp is still adjudicated as
    // damage — tmp presence means a compaction began, so appends had
    // committed data before it
    val wreck = tempDir("sfirstcrash3") + "/store"
    fs.mkdirs(new org.apache.hadoop.fs.Path(wreck + "/_temporary/0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(wreck + ".tmp"))
    intercept[Exception] { StreamImageDedup.readStore(spark, wreck) }
  }

  test("marker-disabled committer is refused up front (r17 advice)") {
    val spark = TestSpark.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    conf.setBoolean(key, false)
    try {
      // the swap protocol's completeness witness is the _SUCCESS marker;
      // with markers disabled every healthy store would read as damage,
      // so the dependency fails loudly with a pointed message instead
      val store = tempDir("snomarker") + "/store"
      val e = intercept[IllegalArgumentException] {
        StreamImageDedup.readStore(spark, store)
      }
      assert(e.getMessage.contains("marksuccessfuljobs"))
    } finally conf.unset(key)
  }

  test("sink-before-store ordering: a failed sink leaves the batch out of the store (r15)") {
    // the documented at-least-once contract: the durable store write
    // lands AFTER the sink call, so a batch whose sink crashed is NOT
    // remembered — on replay it re-emits (re-admission) rather than
    // being silently swallowed
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq((1L, bmpFor(P1))).toDF("asset_id", "content")
    val in = tempDir("sfail_in")
    val store = tempDir("sfail_store") + "/store"
    csvFile(in, "b1.csv", "asset_id;content_hex\n" + s"11;${hex(bmpFor(P2))}\n")
    val s = CsvStream.readStream(spark, in, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val q = StreamImageDedup.start(s, base, "sfail",
      (_, _) => throw new RuntimeException("sink down"),
      standingStore = Some(store), compactEvery = 1)
    intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    assert(StreamImageDedup.readStore(spark, store).isEmpty,
      "a batch whose sink failed must not have reached the durable store")
  }

  test("readStore propagates read errors instead of emptying the gate (r16)") {
    val spark = TestSpark.spark
    val store = tempDir("sbadstore") + "/store"
    // a present-but-unreadable store (a garbage file where the parquet
    // dir should be) must FAIL LOUDLY: mapping every read error to an
    // empty standing set would silently discard the accepted-hash
    // history and re-admit all previously rejected near-dups (review
    // finding r15); only a genuinely ABSENT directory means empty
    val f = new java.io.File(store)
    f.getParentFile.mkdirs()
    val w = new java.io.FileWriter(f)
    try w.write("not parquet") finally w.close()
    intercept[Exception] { StreamImageDedup.readStore(spark, store) }
  }

  test("hamming > maxDist passes: distance 4 with maxDist 3 is NOT a dup") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq((1L, bmpFor(P1))).toDF("asset_id", "content")
    val dir = tempDir("simgdedup2")
    val far = flip(P1, 2, 19, 37, 55) // one flip in each 16-bit band
    csvFile(dir, "b1.csv",
      "asset_id;content_hex\n" + s"30;${hex(bmpFor(far))}\n")
    val stream = CsvStream.readStream(spark, dir, CsvDialect(), maxFilesPerTrigger = 1)
      .select(col("asset_id").cast("long").as("asset_id"),
        unhex(col("content_hex")).as("content"))
    val got = scala.collection.mutable.Set[Long]()
    val q = StreamImageDedup.start(stream, base, "simgdedup2",
      (surv, _) => { got ++= surv.select("asset_id").collect().map(_.getLong(0)); () })
    try q.processAllAvailable() finally q.stop()
    assert(got.toSet == Set(30L),
      "a hamming-4 twin (one flip per band: no intact band, no candidate) " +
        "must survive a maxDist-3 gate")
  }
}
