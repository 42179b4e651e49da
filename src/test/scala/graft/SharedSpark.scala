package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The specs' Spark session: [[Sessions.local]] at 4 cores, shared by
  * every spec in the test JVM. */
trait SharedSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Persisted RDDs of the shared session other than workspace pre-joined
    * stars ([[graft.star.PrejoinedStar]]): a star lives as long as its
    * workspace, which may belong to any spec of this JVM, so persist
    * hygiene checks look at everything else. */
  def persistsBesideStars: collection.Map[Int, RDD[_]] =
    spark.sparkContext.getPersistentRDDs.filterNot { case (_, r) =>
      Option(r.name).exists(_.startsWith(graft.star.PrejoinedStar.RddName))
    }
}
