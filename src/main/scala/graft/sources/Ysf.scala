package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Candle

/** Reader/writer for the reference engine's `.ysf` page-file format —
  * the one on-disk artifact a mora user already has. This is the interop
  * path: decode existing page files into the [[Candle]] schema (and
  * encode back), so a store can be migrated in either direction.
  *
  * Format (all little-endian except `bit_fields`):
  *  - 60 B header (`page/header.go:31-44`): magic `20 18 10 29`,
  *    version u16 (=1), year u16, candle_length u32, count u32,
  *    start_offset u32, end_offset u32, last_tx_id u64,
  *    market (10 B null-padded), code (18 B null-padded);
  *  - daily skip index (`page/index.go:11-17`, `page/constant.go:1-8`):
  *    31 rows × 48 B = 372 u32 entries; entry i = count of body rows on
  *    days 0..i-1 of the year (prefix sum of per-day counts,
  *    `index.go:11-17` ApplyDailyCount);
  *  - count × 48 B body blocks (`page/body.go:36-60`): ts_offset u32 LE,
  *    bit_fields u32 BIG-endian (`body.go:47,61`), then
  *    open/high/low/close/volume f64 LE. Blocks are ts-sorted
  *    (`page/page.go:95-142`).
  *  - `ts = start-of-year(year, UTC) + ts_offset` (`body.go:82-84`,
  *    `common/time.go:16-24`).
  *
  * Files live at `{dir}/{market}/{candle_length}/{code}/{year%05d}.ysf`
  * (`database/storage/disk/resolver.go:14-17`).
  *
  * Scale posture: one `.ysf` file is one series-year page — the format
  * itself bounds file size (the reference loads whole pages in memory
  * too). Reading parallelizes per file via `binaryFile`; decode is a
  * per-partition JVM loop with no shuffle. Writing shuffles once on the
  * page key (`groupByKey`) and streams each page out through the Hadoop
  * FS API.
  */
object Ysf {
  val Magic: Array[Byte] = Array(0x20, 0x18, 0x10, 0x29).map(_.toByte)
  val Version = 1
  val HeaderSize = 60
  val BlockWidth = 48
  val IndexRowCount = 31
  /** 372 u32 index slots (31 rows × 12 per row), ≥ days in any year. */
  val IndexCount: Int = IndexRowCount * (BlockWidth / 4)
  val DataOffset: Int = HeaderSize + IndexRowCount * BlockWidth
  val MaxMarketLen = 10
  val MaxCodeLen = 18

  /** Decoded page header (`page/header.go:13-23`). */
  final case class Header(market: String, code: String, candleLength: Int,
                          year: Int, count: Int, startOffset: Long,
                          endOffset: Long, lastTxId: Long)

  /** Unix timestamp of Jan 1 00:00 UTC of `year` (`common/time.go:16-24`). */
  def yearStartEpoch(year: Int): Long =
    java.time.LocalDate.of(year, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  // ---------------------------------------------------------------- //
  // Pure JVM codec                                                   //
  // ---------------------------------------------------------------- //

  /** Decode a page's header (first 60 bytes). */
  def decodeHeader(bytes: Array[Byte]): Header = {
    require(bytes.length >= DataOffset,
      s"page too short: ${bytes.length} B < header+index $DataOffset B")
    require(java.util.Arrays.equals(bytes.slice(0, 4), Magic),
      "invalid page: magic byte incorrect")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.getShort(4) & 0xffff
    require(version == Version, s"version invalid: $version")
    val year = buf.getShort(6) & 0xffff
    val candleLength = buf.getInt(8)
    val count = buf.getInt(12)
    val startOffset = buf.getInt(16) & 0xffffffffL
    val endOffset = buf.getInt(20) & 0xffffffffL
    val lastTxId = buf.getLong(24)
    // strings are null-padded on disk (common/io.go:28-44)
    def nullPadded(from: Int, len: Int): String = {
      val raw = new String(bytes, from, len, java.nio.charset.StandardCharsets.UTF_8)
      var end = raw.length
      while (end > 0 && raw.charAt(end - 1) == 0.toChar) end -= 1
      raw.substring(0, end)
    }
    Header(nullPadded(32, MaxMarketLen), nullPadded(42, MaxCodeLen),
      candleLength, year, count, startOffset, endOffset, lastTxId)
  }

  /** The daily skip index: 372 cumulative-count entries. */
  def decodeIndex(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(IndexCount)(i => buf.getInt(HeaderSize + 4 * i) & 0xffffffffL)
  }

  /** Decode a whole page to [[Candle]] rows. */
  def decodePage(bytes: Array[Byte]): Seq[Candle] = {
    val h = decodeHeader(bytes)
    val need = DataOffset + h.count.toLong * BlockWidth
    require(bytes.length >= need,
      s"page truncated: ${bytes.length} B < $need B for count=${h.count}")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val y0 = yearStartEpoch(h.year)
    (0 until h.count).map { i =>
      val o = DataOffset + i * BlockWidth
      val tsOffset = buf.getInt(o) & 0xffffffffL
      // bit_fields is the format's one big-endian field (body.go:47,61)
      val bitFields = ByteBuffer.wrap(bytes, o + 4, 4)
        .order(ByteOrder.BIG_ENDIAN).getInt() & 0xffffffffL
      Candle(h.market, h.code, h.candleLength,
        new Timestamp((y0 + tsOffset) * 1000L),
        buf.getDouble(o + 8), buf.getDouble(o + 16), buf.getDouble(o + 24),
        buf.getDouble(o + 32), buf.getDouble(o + 40), bitFields)
    }
  }

  /** Encode one page. `rows` must all share (market, code, candle_length)
    * and fall inside calendar `year`; they are ts-sorted and de-duplicated
    * here (last-wins, mirroring `page/page.go:114-123` merge order).
    */
  def encodePage(market: String, code: String, candleLength: Int, year: Int,
                 rows: Seq[Candle], lastTxId: Long = 0L): Array[Byte] = {
    require(market.getBytes("UTF-8").length <= MaxMarketLen,
      s"market code too long (maximum $MaxMarketLen): $market")
    require(code.getBytes("UTF-8").length <= MaxCodeLen,
      s"code too long (maximum $MaxCodeLen): $code")
    val y0 = yearStartEpoch(year)
    val y1 = yearStartEpoch(year + 1)
    val sorted = rows
      .map { c =>
        val sec = c.ts.getTime / 1000L
        require(sec >= y0 && sec < y1,
          s"candle timestamp is not in range for year $year: ${c.ts}")
        ((sec - y0), c)
      }
      // secondary sort on content: input arrives in shuffle-dependent
      // order, so last-wins per offset must not depend on it — the
      // winner among equal-offset rows is the max content tuple, and
      // page bytes are identical run to run
      .sortBy { case (off, c) =>
        (off, c.open, c.high, c.low, c.close, c.volume, c.bit_fields)
      }
    // last-wins per offset (a page stores one row per timestamp)
    val dedup = sorted.foldLeft(Vector.empty[(Long, Candle)]) { (acc, x) =>
      if (acc.nonEmpty && acc.last._1 == x._1) acc.init :+ x else acc :+ x
    }
    require(dedup.nonEmpty, "cannot encode an empty page")

    val out = ByteBuffer.allocate(DataOffset + dedup.size * BlockWidth)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put(Magic)
    out.putShort(Version.toShort)
    out.putShort(year.toShort)
    out.putInt(candleLength)
    out.putInt(dedup.size)
    out.putInt(dedup.head._1.toInt)
    out.putInt(dedup.last._1.toInt)
    out.putLong(lastTxId)
    def padded(s: String, len: Int): Unit = {
      val b = s.getBytes("UTF-8")
      out.put(b); out.put(new Array[Byte](len - b.length))
    }
    padded(market, MaxMarketLen)
    padded(code, MaxCodeLen)
    // daily prefix-sum index (index.go:11-17): entry i = rows on days < i
    val dailyCount = new Array[Int](IndexCount)
    dedup.foreach { case (off, _) => dailyCount((off / 86400L).toInt) += 1 }
    var cum = 0
    var i = 0
    while (i < IndexCount) {
      out.putInt(cum) // before adding day i: rows strictly before day i
      cum += dailyCount(i)
      i += 1
    }
    dedup.foreach { case (off, c) =>
      out.putInt(off.toInt)
      out.order(ByteOrder.BIG_ENDIAN).putInt((c.bit_fields & 0xffffffffL).toInt)
      out.order(ByteOrder.LITTLE_ENDIAN)
      out.putDouble(c.open); out.putDouble(c.high); out.putDouble(c.low)
      out.putDouble(c.close); out.putDouble(c.volume)
    }
    out.array()
  }

  // ---------------------------------------------------------------- //
  // Spark surface                                                    //
  // ---------------------------------------------------------------- //

  /** One decoded row + its page's storage year (from the page HEADER —
    * not `year(ts)`, which is session-timezone-dependent while page
    * years are UTC by format definition). Not private: the generated
    * code of a private row class's encoder fails to compile (Janino
    * finds no applicable accessor), and Spark then evaluates it
    * interpreted.
    */
  final case class YsfRow(market: String, code: String,
                          candle_length: Int, ts: Timestamp,
                          open: Double, high: Double, low: Double,
                          close: Double, volume: Double,
                          bit_fields: Long, year: Int)

  /** Read every `.ysf` page under `dir` (recursively) into a [[Candle]]
    * DataFrame plus the storage `year` column. Parallelism is per page
    * file; series identity comes from page headers, not paths, so any
    * directory layout decodes.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.ysf")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        try {
          val yr = decodeHeader(bytes).year
          decodePage(bytes).map(c => YsfRow(c.market, c.code, c.candle_length,
            c.ts, c.open, c.high, c.low, c.close, c.volume, c.bit_fields, yr))
        } catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"bad .ysf page at $path: ${e.getMessage}", e)
        }
      }
      .toDF()
  }

  /** Pruned read: decode ONLY the pages of one series (and optionally a
    * year range) — file-level pruning on the reference's directory
    * layout (`{market}/{length}/{code}/{year}.ysf`), the `.ysf` analog
    * of the store's partition pruning. Pages outside the selection are
    * never opened or decoded (their bytes may even be invalid); cost is
    * O(selected pages), not O(store).
    */
  def readSeries(spark: SparkSession, dir: String, market: String,
                 candleLength: Int, code: String,
                 years: Option[(Int, Int)] = None): DataFrame = {
    import spark.implicits._
    // Prune at LISTING time (driver-side, metadata-scale — the
    // reference's resolver does the same path math, resolver.go:14-17):
    // only selected pages are ever handed to the binaryFile source, so
    // unselected page bytes are never read, let alone decoded.
    val base = new org.apache.hadoop.fs.Path(s"$dir/$market/$candleLength/$code")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val selected: Seq[String] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).map(_.getPath)
        .filter(p => p.getName.endsWith(".ysf") && (years match {
          case None => true
          case Some((from, to)) =>
            p.getName.stripSuffix(".ysf").toIntOption
              .exists(y => y >= from && y <= to)
        }))
        .map(_.toString).toSeq
    if (selected.isEmpty)
      return spark.emptyDataset[Candle].toDF()
    spark.read.format("binaryFile").load(selected: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        try decodePage(bytes)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"bad .ysf page at $path: ${e.getMessage}", e)
        }
      }
      .toDF()
  }

  /** Write a candle DataFrame as a `.ysf` page tree under `dir` (the
    * reference's `{market}/{length}/{code}/{year%05d}.ysf` layout,
    * `disk/resolver.go:14-17`). One shuffle, keyed by page identity;
    * each page encodes and streams out from its executor. Timestamps
    * truncate to whole seconds (the format's resolution).
    */
  def write(df: DataFrame, dir: String, lastTxId: Long = 0L): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val pages: Dataset[(String, Array[Byte])] = df
      .withColumn("ts", date_trunc("second", col("ts")).cast("timestamp"))
      .select(col("market"), col("code"), col("candle_length"), col("ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume"),
        col("bit_fields"))
      .as[Candle]
      .groupByKey(c => (c.market, c.code, c.candle_length,
        java.time.Instant.ofEpochMilli(c.ts.getTime)
          .atZone(java.time.ZoneOffset.UTC).getYear))
      .mapGroups { (key: (String, String, Int, Int), rows: Iterator[Candle]) =>
        val (market, code, len, yr) = key
        val relPath = f"$market/$len/$code/$yr%05d.ysf"
        (relPath, encodePage(market, code, len, yr, rows.toSeq, lastTxId))
      }
    pages.foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
      // Fresh Configuration(): picks up core-site.xml from the executor
      // classpath, which is how any cluster FS is addressed.
      val conf = new org.apache.hadoop.conf.Configuration()
      it.foreach { case (rel, bytes) =>
        val p = new org.apache.hadoop.fs.Path(dir, rel)
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
      }
    }
  }
}
