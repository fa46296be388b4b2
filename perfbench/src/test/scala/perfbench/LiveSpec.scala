package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.RaceIngest

/** The attribution contract against a real query: each `addData` call is
  * one `MemoryStream` offset, and the progress API's `(startOffset,
  * endOffset]` of each batch names exactly the blocks it committed.
  */
class LiveSpec extends AnyFunSuite {

  test("addData offsets attribute to the batch whose progress endOffset covers them") {
    val spark = SparkSession.builder().master("local[2]").appName("LiveSpec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val dir = Files.createTempDirectory("perfbench-live")
      val ms = MemoryStream[String](2)
      val msgs = Gen.raceMessages(1, 60).map(_.json)
      val query = RaceIngest.startParquetSink(ms.toDF(), dir.resolve("sink").toString,
        dir.resolve("cp").toString,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      def add(from: Int, until: Int): Long =
        Stats.offsetOf(ms.addData(msgs.slice(from, until)).json())
      val a = add(0, 20)
      query.processAllAvailable()
      val b = add(20, 40)
      val c = add(40, 60)
      query.processAllAvailable()
      assert(progress.awaitOffset(c, 30000))
      query.stop()

      assert(Seq(a, b, c) == Seq(a, a + 1, a + 2), "one offset per addData call")
      val commits = progress.commits.sortBy(_.endOffset)
      val ca = Stats.attribute(a, commits).get
      val cb = Stats.attribute(b, commits).get
      val cc = Stats.attribute(c, commits).get
      assert(ca.batchId != cb.batchId, "a batch boundary separates the first block")
      assert(cb.batchId == cc.batchId, "blocks added together commit together")
      assert(ca.endOffset == a && cc.endOffset == c)
      assert(progress.dataBatches.map(_.numInputRows).sum == 60L)
      assert(commits.forall(c => c.commitMs > 0 && c.triggerMs >= 0))
    } finally spark.stop()
  }
}
