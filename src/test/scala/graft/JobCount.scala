package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a call starts, counted by a `SparkListener` after the
  * listener bus has delivered every event. Specs run one at a time in
  * the shared session, so every job in the window is the call's. */
object JobCount {
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
