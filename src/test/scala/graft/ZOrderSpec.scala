package graft

import org.apache.spark.sql.functions._

import graft.ops.ZOrder

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("interleave: known values and 2-D locality") {
    assert(ZOrder.interleave(0L, 0L, 8) == 0L)
    assert(ZOrder.interleave(3L, 0L, 8) == 5L)   // x -> even bits: 0b0101
    assert(ZOrder.interleave(0L, 3L, 8) == 10L)  // y -> odd bits:  0b1010
    assert(ZOrder.interleave(7L, 7L, 8) == 63L)
    // prefix property: points in the same 2^k-aligned tile share z-prefix
    val z = (x: Long, y: Long) => ZOrder.interleave(x, y, 16)
    assert((z(17L, 42L) >> 8) == (z(19L, 40L) >> 8), "same 16x16 tile, same z-prefix")
  }

  test("interleaveN: 2-D agrees with interleave; 3-D known values and tile prefix") {
    // d=2 must be the classic even/odd interleave
    for ((x, y) <- Seq((0L, 0L), (3L, 0L), (0L, 3L), (7L, 7L), (17L, 42L)))
      assert(ZOrder.interleaveN(Array(x, y), 8) == ZOrder.interleave(x, y, 8))
    // d=3: coordinate k's bit i lands at bit 3i+k
    assert(ZOrder.interleaveN(Array(1L, 0L, 0L), 4) == 1L)
    assert(ZOrder.interleaveN(Array(0L, 1L, 0L), 4) == 2L)
    assert(ZOrder.interleaveN(Array(0L, 0L, 1L), 4) == 4L)
    assert(ZOrder.interleaveN(Array(7L, 7L, 7L), 4) == 511L) // 2^9 - 1
    // prefix property: points in the same 2^k-aligned 3-D tile share
    // the z-prefix above 3k bits
    val z = (c: Array[Long]) => ZOrder.interleaveN(c, 8)
    assert((z(Array(17L, 42L, 9L)) >> 9) == (z(Array(19L, 40L, 14L)) >> 9),
      "same 8x8x8 tile, same z-prefix")
  }

  test("zValueNUdf nulls a null coordinate like the 2-D primitive path") {
    // a Seq[Long] UDF parameter would unbox a null element to 0L,
    // silently teleporting null-keyed rows to coordinate 0
    val df = Seq(
      (1L, Some(3L), Some(5L)),
      (2L, None: Option[Long], Some(5L)),
      (3L, Some(3L), None: Option[Long])
    ).toDF("id", "x", "y")
    val z2 = df.select($"id", ZOrder.zValueUdf(8)($"x", $"y").as("z"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val zN = df.select($"id",
        ZOrder.zValueNUdf(2, 8)(array($"x", $"y")).as("z"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(zN == z2, s"N-D null contract diverges from 2-D: $zN vs $z2")
    assert(zN(1L) == ZOrder.interleave(3L, 5L, 8) && zN(2L) == null && zN(3L) == null)
  }

  test("3-D clusterN files bound every dimension") {
    // 16x16x16 grid, scrambled; cluster on all three dims
    val pts = new scala.util.Random(7).shuffle((0 until 4096).toList)
      .map(i => (i % 16, (i / 16) % 16, i / 256)).toDF("x", "y", "w")
    val dir = tmpDir("zorder-3d")
    ZOrder.clusterN(pts, Seq("x", "y", "w"), 16, bitsPerDim = 4)
      .write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).count() == 4096, "clustering keeps every row")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bounds = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.toString)
          .agg(min("x"), max("x"), min("y"), max("y"), min("w"), max("w")).head()
        Seq(r.getInt(1) - r.getInt(0), r.getInt(3) - r.getInt(2),
          r.getInt(5) - r.getInt(4)).map(_ + 1)
      }
    // every file must be compact in EVERY dimension (a 1-D sort would
    // leave two dimensions at full 16-extent in every file); 12 allows
    // a sampled range bound straddling a Morton tile transition
    assert(bounds.forall(_.forall(_ <= 12)),
      s"3-D z-order files must bound all dims (extents=$bounds)")
  }

  test("z-order files bound BOTH dims; x-sort leaves y unbounded") {
    // 64x64 grid, one point per cell, scrambled input order (seeded:
    // RangePartitioner bounds are sample-derived from input order)
    val pts = new scala.util.Random(42).shuffle((0 until 4096).toList)
      .map(i => (i % 64, i / 64)).toDF("x", "y")
    val nFiles = 16
    val xDir = tmpDir("zorder-x")
    val zDir = tmpDir("zorder-z")
    pts.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    ZOrder.cluster(pts, "x", "y", nFiles, bitsPerDim = 6)
      .write.mode("overwrite").parquet(zDir)

    def fileBounds(dir: String): Seq[(Int, Int, Int, Int)] = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.toString)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
        }
    }
    val xb = fileBounds(xDir)
    val zb = fileBounds(zDir)
    assert(xb.size == nFiles && zb.size == nFiles)
    // probe: y in [8, 16) — a pure-y range predicate
    def hits(bs: Seq[(Int, Int, Int, Int)]) =
      bs.count { case (_, _, yMin, yMax) => yMax >= 8 && yMin < 16 }
    val xHits = hits(xb)
    val zHits = hits(zb)
    // x-sorted files each span all of y: nothing prunes
    assert(xHits == nFiles, s"x-sorted layout should not prune y probes ($xHits)")
    // z-ordered files have compact y ranges: most files prune
    assert(zHits <= nFiles / 2, s"z-order must prune most files on a y probe ($zHits/$nFiles)")
    // per-file y-extent: x-sorted slabs span ALL of y; z-order tiles
    // stay compact in y too (both tilings cover the same total area —
    // the win is bounded extent in EVERY dimension, not less area)
    def yExtents(bs: Seq[(Int, Int, Int, Int)]) =
      bs.map { case (_, _, yMin, yMax) => yMax - yMin + 1 }
    assert(yExtents(xb).forall(_ == 64), "x-sorted files span all of y")
    // bound 32 (not the ideal 16): sampled range bounds can straddle a
    // Morton tile transition, unioning two adjacent tiles' y ranges
    assert(yExtents(zb).forall(_ <= 32),
      s"z-order files must stay compact in y (extents=${yExtents(zb)})")
  }
}
