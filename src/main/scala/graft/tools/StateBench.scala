package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkEntry
import graft.streaming.{StatusStateMachine, TxEvent}

/** Throughput smoke for the MOC-side status state machine: N synthetic
  * transactions × a submit→mined→confirm event sequence driven through the
  * `flatMapGroupsWithState` wiring in micro-batches, reporting events/s
  * end to end (state store updates included). This is the streaming path
  * the reference's 3-10 s scan cadence feeds at ~1 block / 30 s — the
  * number that shows the headroom. Usage: runMain graft.tools.StateBench
  * [nTx] [nBatches]
  */
object StateBench {
  def main(args: Array[String]): Unit = {
    val nTx = if (args.length > 0) args(0).toInt else 50000
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // 3 events per tx: submit at block b, mined at b+1, confirmed when the
    // head advances past the confirmation depth
    val events = (0 until nTx).flatMap { i =>
      val b = 1000L + i % 500
      Seq(
        TxEvent(f"0x$i%040x", "submit", b, b, i.toLong),
        TxEvent(f"0x$i%040x", "mined", b + 1, b + 1, i.toLong + 1),
        TxEvent(f"0x$i%040x", "head", b + 1, b + 12, i.toLong + 2))
    }
    val perBatch = math.max(1, events.length / nBatches)

    val outDir = java.nio.file.Files.createTempDirectory("graft-statebench").toString
    val in = MemoryStream[TxEvent]
    var rows = 0L
    val q = StatusStateMachine.wire(in.toDS())
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$outDir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.TxStatus], _: Long) =>
        rows += b.count(); ()
      }.start()
    val t0 = System.nanoTime()
    try {
      events.grouped(perBatch).foreach { g =>
        in.addData(g.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    // scalastyle:off println
    println(f"""{"metric":"state_events_per_sec","events":${events.length},"tx":$nTx,"batches":$nBatches,"out_rows":$rows,"sec":$sec%.2f,"events_per_sec":${events.length / sec}%.0f}""")
    // scalastyle:on println
    spark.stop()
  }
}
