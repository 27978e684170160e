package graft.util

import org.apache.spark.SparkContext

/** The engine's `graft:` job tags. A tag is a thread-local job description,
  * so it is set around the tagged work and the caller's own description
  * (if any) is put back afterwards, never cleared. */
object JobDescription {
  private val Key = "spark.job.description"

  def tagged[A](sc: SparkContext, description: String)(body: => A): A = {
    val previous = sc.getLocalProperty(Key)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(Key, previous)
  }
}
