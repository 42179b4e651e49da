package olapbench

/** Output digests of the batch operators ([[BatchBench.digest]]) per
  * generated data set, recorded at the commit that introduced the
  * benchmark. A change to an operator's output fails the check. */
object Digests {
  val Expected: Map[Int, Map[String, String]] = Map(
    0 -> Map("q107_pagerank" -> "2a46b17d7dbee31b", "q330_dbscan" -> "8aff5e86e6193542",
      "q88_kmeans" -> "1b1988fcf72ac9d1"),
    1 -> Map("q107_pagerank" -> "4fceea8161c57a9e", "q330_dbscan" -> "8aff5e86e6193542",
      "q88_kmeans" -> "978d0c46af6df58e"),
    2 -> Map("q107_pagerank" -> "2a46b17d7dbee31b", "q330_dbscan" -> "8aff5e86e6193542",
      "q88_kmeans" -> "f31602d26ac39c4d"),
    3 -> Map("q107_pagerank" -> "4fceea8161c57a9e", "q330_dbscan" -> "8aff5e86e6193542",
      "q88_kmeans" -> "392a84405f8df2aa"))
}
