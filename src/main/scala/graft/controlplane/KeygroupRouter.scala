package graft.controlplane

/** Explicit keygroup → partition routing — the analog of the
  * reference's mutable `AssignedKeyGroupStreamPartitioner`
  * (flink-streaming-java/.../partitioner/AssignedKeyGroupStreamPartitioner.java:15-90:
  * `selectChannel` consults a `Map<keyGroupId, subTaskIndex>` that the
  * control plane rewrites at runtime).
  *
  * Spark's DataFrame exchanges only offer hash/range partitioning, so
  * [[ReconfigurableCountQuery]] realizes an arbitrary assignment
  * through the ordinary hash exchange: it repartitions on the
  * [[routingTokens]] entry of each record's [[keygroup]], which works
  * on streaming Datasets. [[PlacementObserver]] records where each
  * keygroup actually ran.
  */
object KeygroupRouter {

  /** The keygroup of `key`: Murmur3 (seed 42) of its UTF-8 bytes, mod
    * `maxParallelism`. */
  def keygroup(key: String, maxParallelism: Int): Int = {
    val bytes = key.getBytes("UTF-8")
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42)
    ((h % maxParallelism) + maxParallelism) % maxParallelism
  }

  /** Balanced round-robin remap `kg → kg mod p` — the reference's
    * PerformanceEvaluator round-robin policy
    * (udm/PerformanceEvaluator.java:149-176). */
  def roundRobin(maxParallelism: Int, parallelism: Int): Vector[Int] =
    Vector.tabulate(maxParallelism)(_ % parallelism)

  /** Routing tokens for the DataFrame/streaming path: token(p) is an
    * int whose Spark hash lands on partition p of n, so
    * `repartition(n, map(keygroup → token))` realizes an arbitrary
    * keygroup → partition assignment through the ordinary hash
    * exchange — no RDD drop-down, works on streaming Datasets. Spark's
    * `repartition(n, expr)` partitions by `pmod(murmur3(expr), n)`,
    * the same hash as [[keygroup]]. */
  def routingTokens(n: Int): Array[Int] = {
    val tokens = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var t = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(t, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; tokens(p) = t; remaining -= 1 }
      t += 1
    }
    tokens
  }
}

/** Executor-side record of which physical partition processed each
  * keygroup, per pipeline generation — the observability needed to
  * assert that `assignWorkload` changed *placement*, not just plan
  * metadata (the reference observes this through its per-task
  * MetricsManager; in local mode a shared map is the same channel). */
object PlacementObserver {
  private val seen =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Int]()

  def record(tag: String, generation: Int, keygroup: Int,
      partition: Int): Unit =
    seen.put((tag, generation, keygroup), partition)

  /** keygroup → partition observed for one generation of a pipeline. */
  def placement(tag: String, generation: Int): Map[Int, Int] = {
    val b = Map.newBuilder[Int, Int]
    seen.forEach { (k, v) =>
      if (k._1 == tag && k._2 == generation) b += (k._3 -> v)
    }
    b.result()
  }

  def clear(tag: String): Unit =
    seen.keySet.removeIf(_._1 == tag)
}
