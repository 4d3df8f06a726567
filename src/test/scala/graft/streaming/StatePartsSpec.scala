package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** `spark.graft.stream.stateParts` sizes the stateful exchange of the
  * streaming gates: every stage that runs a state store (a
  * `StateStoreRDD` in its lineage) has that many tasks. */
class StatePartsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("w8's state-store stages run spark.graft.stream.stateParts tasks") {
    val stateful = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (sc.stageInfo.rddInfos.exists(_.name == "StateStoreRDD"))
          stateful.add(sc.stageInfo.numTasks)
    }
    spark.conf.set("spark.graft.stream.stateParts", "3")
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("w8_stream_session")(spark, "/root/testdata/sf0.001")
        .collect()
      Bridge.drainListenerBus(spark)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.stream.stateParts")
    }
    val tasks = stateful.asScala.toSeq
    assert(tasks.nonEmpty, "no state-store stage ran")
    assert(tasks.forall(_ == 3), s"state-store stage task counts: $tasks")
  }
}
