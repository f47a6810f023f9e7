package graft.util

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Seeded fuzz of the manifest lifecycle (the SegmentsPropertySpec
  * idiom): random interleavings of append / streaming batch ingest
  * (with torn attempts and checkpoint replays) / compact-tick /
  * z-cluster / vacuum, with readers pinned at random points,
  * must always satisfy the manifest invariants — the current read
  * equals a plain in-memory model of the operations, the batch
  * high-water mark tracks exactly the committed batches (so a replay
  * is refused even after the batch's rows were compacted or clustered),
  * every pinned reader inside the kept window re-collects its
  * generation exactly, and slice reads agree with filtered full
  * reads. The directed ManifestLogSpec/LogStreamSpec prove each
  * mechanism; this spec proves the composition has no
  * op-order-dependent edges.
  */
class ManifestLogPropertySpec extends SparkTestBase with graft.TempCorpusDirs {
  import sqlImplicits._

  private val rng = new Random(2063)

  test("random op interleavings keep current, pinned, and sliced reads model-exact") {
    (1 to 3).foreach { trial =>
      val root = s"${tempCorpusDir(s"graft_mfuzz$trial")}/log"
      // Model: the rows the CURRENT generation must hold.
      var model = Vector.empty[(Long, Long)]
      var nextKey = 0L
      def batch(lo: Long, hiExcl: Long, nRows: Int): Seq[(Long, Long)] =
        (0 until nRows).map { _ =>
          nextKey += 1
          (nextKey, lo + math.abs(rng.nextLong()) % math.max(1L, hiExcl - lo))
        }
      def append(rows: Seq[(Long, Long)]): Unit = {
        ManifestLog.appendSorted(
          rows.toDF("k", "ts").coalesce(1).sortWithinPartitions("ts"),
          root, boundCol = Some("ts"))
        model ++= rows
      }
      // Seed generation + adoption with stats.
      val first = batch(0L, 1000000L, 200)
      first.toDF("k", "ts").coalesce(1).sortWithinPartitions("ts")
        .write.parquet(root)
      ManifestLog.adopt(spark, root, boundCol = Some("ts"))
      model ++= first

      def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.select("k", "ts").as[(Long, Long)].collect().toSeq.sorted

      // Readers pinned mid-lifecycle: (dataframe, expected rows).
      var pinned = Vector.empty[(org.apache.spark.sql.DataFrame, Seq[(Long, Long)])]
      // Streaming-batch model state: committed batches by id, so a
      // random replay can re-deliver exactly what a checkpoint would.
      var committedBatches = Vector.empty[Seq[(Long, Long)]]
      def ingest(rows: Seq[(Long, Long)], batchId: Long): Boolean =
        ManifestLog.appendBatch(
          rows.toDF("k", "ts").coalesce(1).sortWithinPartitions("ts"),
          root, batchId, boundCol = Some("ts"))

      (1 to 12).foreach { _ =>
        rng.nextInt(7) match {
          case 0 | 1 => // append a random-span batch (possibly far future)
            val lo = rng.nextInt(4).toLong * 1000000L
            append(batch(lo, lo + 1000000L, 50 + rng.nextInt(150)))
          case 2 => // maintenance tick at a small bound
            ManifestLog.maintainSorted(spark, root, "ts", maxFiles = 2)
          case 3 => // pin a reader on the current generation
            pinned :+= ((ManifestLog.read(spark, root), model.sorted))
          case 4 => // streaming batch, possibly with a torn first attempt
            val lo = rng.nextInt(4).toLong * 1000000L
            val rows = batch(lo, lo + 1000000L, 30 + rng.nextInt(70))
            val id = committedBatches.length.toLong
            if (rng.nextBoolean()) { // crash before the commit, then replay
              ManifestLog.failpoint =
                s => if (s.startsWith("written:append-batch"))
                  throw new RuntimeException("injected crash")
              try intercept[RuntimeException](ingest(rows, id))
              finally ManifestLog.failpoint = _ => ()
              assert(canon(ManifestLog.read(spark, root)) == model.sorted,
                s"trial $trial: a torn batch leaked")
            }
            assert(ingest(rows, id), s"trial $trial: fresh batch refused")
            committedBatches :+= rows
            model ++= rows
          case 5 => // checkpoint replay of a random already-committed batch
            if (committedBatches.nonEmpty) {
              val id = rng.nextInt(committedBatches.length)
              assert(!ingest(committedBatches(id), id.toLong),
                s"trial $trial: committed batch $id re-ran")
            }
          case 6 => // z-cluster: row-neutral, both columns gain stats
            ManifestLog.cluster(spark, root, Seq("ts", "k"),
              targetFileRows = 100L)
        }
        // Invariant after EVERY op: current read == model.
        assert(canon(ManifestLog.read(spark, root)) == model.sorted,
          s"trial $trial: current generation diverged from the model")
        // The batch high-water mark is exactly the model's.
        assert(ManifestLog.batchHwm(spark, root) == committedBatches.length - 1L,
          s"trial $trial: high-water mark diverged")
        // Slice read == filtered full read on a random window.
        val lo = rng.nextInt(4).toLong * 1000000L
        val hi = lo + 1000000L
        val slice = ManifestLog.readSlice(spark, root, "ts", lo, hi)
          .filter(col("ts") >= lo && col("ts") < hi)
        assert(canon(slice) == model.filter(r => r._2 >= lo && r._2 < hi).sorted,
          s"trial $trial: slice read diverged")
        // 2-D slice == doubly-filtered full read, whatever mix of
        // clustered / boundary-only / stats-less files is live.
        val kLo = nextKey / 2
        val slice2 = ManifestLog.readSliceN(spark, root,
            Seq(("ts", lo, hi), ("k", kLo, Long.MaxValue)))
          .filter(col("ts") >= lo && col("ts") < hi && col("k") >= kLo)
        assert(canon(slice2) ==
          model.filter(r => r._2 >= lo && r._2 < hi && r._1 >= kLo).sorted,
          s"trial $trial: 2-D slice read diverged")
      }
      // Every pinned reader still answers its own generation (nothing
      // was vacuumed while pins were live).
      pinned.foreach { case (df, expect) =>
        assert(canon(df) == expect, s"trial $trial: a pinned reader drifted")
      }
      // Vacuum to the current generation only, then: current read
      // still model-exact, pinned readers are explicitly OUT of the
      // kept window (the documented grace contract).
      ManifestLog.vacuum(spark, root)
      assert(canon(ManifestLog.read(spark, root)) == model.sorted,
        s"trial $trial: vacuum damaged the live generation")
    }
  }
}
