package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.DriverCollect.bounded
import graft.functions.KeyedMemo

/** The library's driver graph kernels: plain Scala over a primitive
  * [[LocalGraph.Csr]], for graphs that fit under Spark's broadcast
  * threshold ([[graft.functions.DriverCollect.bounded]]). Such a graph
  * costs one thread less than the dozens of jobs a distributed round
  * loop starts on it (McSherry et al., "Scalability! But at what
  * COST?", HotOS 2015). Each kernel answers exactly as its distributed
  * twin does, row for row:
  *  - [[bfs]], [[trails]] and [[cycleTrails]] serve the query engine's
  *    scope snapshots ([[Traversal.bfs]], [[Traversal.walks]],
  *    [[Traversal.recursionTrails]]);
  *  - [[recursion]] is [[Traversal.recursion]]'s walk-count DP;
  *  - [[recursionGroups]] is [[Neighborhood.recursionGroups]]'s
  *    per-start reach, mutual pairs and bounded min-label rounds;
  *  - [[minLabels]] is [[Components.minLabels]]'s round loop, for
  *    those groups and for the MSF merge.
  * The two DataFrame entry points return `None` when the edge frame or
  * the start set is over the cap (or the threshold is `-1`), and their
  * callers then run the distributed rounds.
  */
private[graft] object LocalGraph {

  /** A directed multigraph in compressed sparse row form: node `i` is
    * `ids(i)` (ascending, so index order is id order), and its out-edges
    * lead to the node indices `nbr(start(i) until start(i + 1))`, in
    * input order, with call offsets `off` at the same positions when
    * built with them (else `off` is empty). Duplicate edges and
    * self-loops stay as given: 8 B per node and 4 B per edge, plus 8 B
    * per edge with offsets. */
  final class Csr(val ids: Array[Long], val start: Array[Int], val nbr: Array[Int],
      val off: Array[Long]) {
    def size: Int = ids.length
    /** The index of node `id`, negative when it has no edge. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    def bytes: Long = 8L * ids.length + 4L * start.length + 4L * nbr.length + 8L * off.length
    def hasSelfLoop(i: Int): Boolean = (start(i) until start(i + 1)).exists(nbr(_) == i)
  }

  object Csr {
    /** The graph of edges `src(k) → dst(k)`, with offsets `off(k)` when
      * `off` is non-empty. */
    def apply(src: Array[Long], dst: Array[Long],
        off: Array[Long] = Array.emptyLongArray): Csr = {
      val all = new Array[Long](src.length + dst.length)
      System.arraycopy(src, 0, all, 0, src.length)
      System.arraycopy(dst, 0, all, src.length, dst.length)
      java.util.Arrays.sort(all)
      var n = 0
      var k = 0
      while (k < all.length) {
        if (n == 0 || all(k) != all(n - 1)) { all(n) = all(k); n += 1 }
        k += 1
      }
      val ids = java.util.Arrays.copyOf(all, n)
      val from = src.map(java.util.Arrays.binarySearch(ids, _))
      val start = new Array[Int](n + 1)
      from.foreach(i => start(i + 1) += 1)
      k = 0
      while (k < n) { start(k + 1) += start(k); k += 1 }
      val fill = java.util.Arrays.copyOf(start, n)
      val nbr = new Array[Int](src.length)
      val offs = if (off.isEmpty) off else new Array[Long](src.length)
      k = 0
      while (k < src.length) {
        val at = fill(from(k))
        nbr(at) = java.util.Arrays.binarySearch(ids, dst(k))
        if (offs.nonEmpty) offs(at) = off(k)
        fill(from(k)) = at + 1
        k += 1
      }
      new Csr(ids, start, nbr, offs)
    }
  }

  /** Min-depth BFS from the node indices `from` up to `maxDepth` hops:
    * `visit(node, depth)` once per node first reached at depth ≥ 1; a
    * start is never visited. `seen` is scratch of `g.size`, all false
    * on entry and again on return. */
  private def sweep(g: Csr, from: Iterable[Int], maxDepth: Int, seen: Array[Boolean])(
      visit: (Int, Int) => Unit): Unit = {
    val touched = new mutable.ArrayBuilder.ofInt
    var frontier = from.iterator.filter(i => !seen(i)).map { i =>
      seen(i) = true; touched += i; i
    }.toArray
    var d = 1
    while (d <= maxDepth && frontier.nonEmpty) {
      val next = new mutable.ArrayBuilder.ofInt
      frontier.foreach { u =>
        var k = g.start(u)
        while (k < g.start(u + 1)) {
          val v = g.nbr(k)
          if (!seen(v)) { seen(v) = true; next += v; visit(v, d) }
          k += 1
        }
      }
      frontier = next.result()
      touched ++= frontier
      d += 1
    }
    touched.result().foreach(seen(_) = false)
  }

  /** (node, depth ≥ 1) of every node within `maxDepth` hops of
    * `starts`, at its minimum depth, in discovery order; a start is
    * never reported. [[Traversal.bfs]] on the driver. */
  def bfs(g: Csr, starts: Seq[Long], maxDepth: Int): Seq[(Long, Int)] = {
    val out = Seq.newBuilder[(Long, Int)]
    sweep(g, starts.map(g.indexOf).filter(_ >= 0), maxDepth, new Array[Boolean](g.size)) {
      (v, d) => out += g.ids(v) -> d
    }
    out.result()
  }

  /** An edge u → v as one key, for the used-edge sets of trails. */
  private def pair(u: Int, v: Int): Long = (u.toLong << 32) | (v & 0xffffffffL)

  /** Every trail (no (src, dst) pair used twice) of 1..maxDepth hops
    * from `start`, as (path, offsets, depth) rendered as
    * [[Traversal.walks]] renders them: `start->n1->n2`, `off1,off2`.
    * `g` must carry offsets. */
  def trails(g: Csr, start: Long, maxDepth: Int): Seq[(String, String, Int)] = {
    val out = Seq.newBuilder[(String, String, Int)]
    val used = mutable.HashSet.empty[Long]
    def go(u: Int, path: String, offsets: String, depth: Int): Unit =
      if (depth < maxDepth) (g.start(u) until g.start(u + 1)).foreach { k =>
        val v = g.nbr(k)
        if (used.add(pair(u, v))) {
          val p = s"$path->${g.ids(v)}"
          val o = if (offsets.isEmpty) g.off(k).toString else s"$offsets,${g.off(k)}"
          out += ((p, o, depth + 1))
          go(v, p, o, depth + 1)
          used.remove(pair(u, v))
        }
      }
    val s = g.indexOf(start)
    if (s >= 0) go(s, start.toString, "", 0)
    out.result()
  }

  /** Indirect recursion of `start`: per depth 2..maxDepth, the number
    * of trails over non-self-loop edges that return to `start` —
    * [[Traversal.recursion]]'s counts, by enumeration at any depth. */
  def cycleTrails(g: Csr, start: Long, maxDepth: Int): Seq[(Int, Long)] = {
    val counts = new Array[Long](maxDepth + 1)
    val used = mutable.HashSet.empty[Long]
    val s = g.indexOf(start)
    def go(u: Int, depth: Int): Unit =
      if (depth < maxDepth) (g.start(u) until g.start(u + 1)).foreach { k =>
        val v = g.nbr(k)
        if (v != u && used.add(pair(u, v))) {
          if (v == s) counts(depth + 1) += 1
          go(v, depth + 1)
          used.remove(pair(u, v))
        }
      }
    if (s >= 0) go(s, 0)
    (2 to maxDepth).filter(counts(_) > 0).map(d => d -> counts(d))
  }

  /** Per start index, the returning walk counts of [[Traversal]]'s
    * recursion DP over the non-self-loop edges, as (start, depth,
    * n_cycles) for 2 ≤ depth ≤ maxDepth ≤ 4 where the count is
    * positive. Duplicate edges count as often as they occur, as the
    * distributed join counts them, and at depth 4 the walks a→b→a→b→a
    * are taken off: Σ_b m(a,b)·m(b,a) (see `recursionDp` for why that
    * leaves exactly the trails). Sums overflow as Spark's ANSI sum
    * does: with an error. */
  private def cycleCounts(g: Csr, starts: Iterable[Int], maxDepth: Int): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    var cur = new Array[Long](g.size)
    var nxt = new Array[Long](g.size)
    starts.foreach { s =>
      var live = Array(s)
      cur(s) = 1L
      var d = 1
      while (d <= maxDepth && live.nonEmpty) {
        val touched = new mutable.ArrayBuilder.ofInt
        live.foreach { u =>
          var k = g.start(u)
          while (k < g.start(u + 1)) {
            val v = g.nbr(k)
            if (v != u) {
              if (nxt(v) == 0L) touched += v
              nxt(v) = Math.addExact(nxt(v), cur(u))
            }
            k += 1
          }
          cur(u) = 0L
        }
        live = touched.result()
        val back = nxt(s)
        if (d >= 2 && back > 0L) {
          val n = if (d == 4) Math.subtractExact(back, twoCycles(g, s)) else back
          if (n > 0L) out += Row(g.ids(s), "Indirect", d, n)
        }
        val t = cur; cur = nxt; nxt = t
        d += 1
      }
      live.foreach(cur(_) = 0L)
    }
    out.result()
  }

  /** Σ_b m(s,b)·m(b,s) over b ≠ s: the 2-cycle partner count of the
    * depth-4 trail correction, with edge multiplicities. */
  private def twoCycles(g: Csr, s: Int): Long = {
    var n = 0L
    var k = g.start(s)
    while (k < g.start(s + 1)) {
      val b = g.nbr(k)
      if (b != s) {
        var j = g.start(b)
        while (j < g.start(b + 1)) { if (g.nbr(j) == s) n = Math.addExact(n, 1L); j += 1 }
      }
      k += 1
    }
    n
  }

  /** [[Components.minLabels]] on the driver, over `g`'s node indices
    * (index order is id order, so the min index is the min id): each
    * round node i takes the min of three labels of the round before,
    * its own, those of its out-neighbours and, with `jump`, the label
    * of its label. Stops at the first round that lowers no label, or
    * after `rounds`. Returns each index's label index. */
  def minLabels(g: Csr, rounds: Int, jump: Boolean): Array[Int] = {
    var label = Array.range(0, g.size)
    var changed = true
    var round = 0
    while (changed && round < rounds) {
      val next = label.clone()
      var v = 0
      while (v < g.size) {
        var k = g.start(v)
        while (k < g.start(v + 1)) { next(v) = math.min(next(v), label(g.nbr(k))); k += 1 }
        if (jump) next(v) = math.min(next(v), label(label(v)))
        v += 1
      }
      changed = !java.util.Arrays.equals(next, label)
      label = next
      round += 1
    }
    label
  }

  /** The (src, dst) adjacency of each edge frame, collected once per
    * frame and threshold when it fits ([[bounded]]); `None` is kept
    * too, so a frame over the cap pays its capped collect once. An
    * entry of the one memo registry: it is sized in its byte ledger
    * and dropped by `KeyedFrameMemo.release` of its frame. */
  private val adjMemo = new KeyedMemo[(DataFrame, Long), Option[Csr]](
    _.fold(0L)(_.bytes), _ => ())

  /** The edge frame's adjacency over its non-null (src, dst) rows, or
    * `None` when it is over the cap. */
  private def adjacency(edges: DataFrame): Option[Csr] = {
    val threshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) None
    else adjMemo.getOrBuild((edges, threshold)) {
      bounded(edges.select(col("src").cast("long"), col("dst").cast("long"))).map { rows =>
        val kept = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        Csr(kept.map(_.getLong(0)), kept.map(_.getLong(1)))
      }
    }
  }

  /** Nullability of `c` cast to long in `df`, read from the analyzed
    * plan: no job runs. */
  private def nullableLong(df: DataFrame, c: String): Boolean =
    df.select(col(c).cast("long")).schema.head.nullable

  private def local(df: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame =
    df.sparkSession.createDataFrame(rows.asJava, schema)

  /** [[Traversal.recursion]] for maxDepth ≤ 4 as a local relation:
    * (node, call_type, depth, n_cycles), a `Direct` row for every
    * self-loop node of `edges` and the `Indirect` DP counts of the
    * starts, with the schema the distributed path returns. `None`
    * when the edges or the starts are over the cap. */
  def recursion(edges: DataFrame, starts: DataFrame, maxDepth: Int): Option[DataFrame] = for {
    g <- adjacency(edges)
    picked <- bounded(starts.select(col("node").cast("long")))
  } yield {
    val direct = (0 until g.size).filter(g.hasSelfLoop)
      .map(i => Row(g.ids(i), "Direct", 1, 1L))
    val from = picked.iterator.filterNot(_.isNullAt(0)).map(r => g.indexOf(r.getLong(0)))
      .filter(_ >= 0).toSeq.distinct
    // with no start row the distributed path returns its Direct rows alone
    val indirect = picked.nonEmpty
    val srcNull = nullableLong(edges, "src")
    local(edges, StructType(Seq(
      StructField("node", LongType, srcNull || indirect && nullableLong(starts, "node")),
      StructField("call_type", StringType, false),
      StructField("depth", IntegerType, false),
      StructField("n_cycles", LongType, indirect))),
      direct ++ cycleCounts(g, from, maxDepth))
  }

  /** [[Neighborhood.recursionGroups]] as a local relation, (node,
    * group_id, group_size) in node order with the distributed path's
    * schema: per scope node its reach within `maxDepth` hops, the
    * scope pairs that reach each other, then `ccRounds` synchronous
    * min-label rounds over the pair graph that stop at the first round
    * that changes no label ([[minLabels]]), as
    * [[Components.labelPropagation]] runs them. `None` when the edges or the scope are over the cap. */
  def recursionGroups(edges: DataFrame, scope: DataFrame, maxDepth: Int,
      ccRounds: Int): Option[DataFrame] = for {
    g <- adjacency(edges)
    picked <- bounded(scope.select(col("node").cast("long")))
  } yield {
    val in = new Array[Boolean](g.size)
    val from = picked.iterator.filterNot(_.isNullAt(0)).map(r => g.indexOf(r.getLong(0)))
      .filter(_ >= 0).toArray.distinct
    from.foreach(in(_) = true)
    val reach = new mutable.ArrayBuilder.ofLong
    val seen = new Array[Boolean](g.size)
    from.foreach(s => sweep(g, Seq(s), maxDepth, seen)((v, _) => if (in(v)) reach += pair(s, v)))
    val reached = reach.result()
    java.util.Arrays.sort(reached)
    // node indices are in id order, so a < b is the distributed least/greatest
    val mutual = reached.filter { p =>
      val a = (p >>> 32).toInt
      val b = p.toInt
      a < b && java.util.Arrays.binarySearch(reached, pair(b, a)) >= 0
    }
    val a = mutual.map(p => g.ids((p >>> 32).toInt))
    val b = mutual.map(p => g.ids(p.toInt))
    val pg = Csr(a ++ b, b ++ a)
    val label = minLabels(pg, ccRounds, jump = false)
    val size = label.groupBy(identity).view.mapValues(_.length.toLong).toMap
    // a pair end is least/greatest(start, reached node); with no round
    // run, the distributed reach is the scope itself
    val nodeNull = nullableLong(scope, "node") &&
      (picked.isEmpty || maxDepth < 1 || nullableLong(edges, "dst"))
    local(edges, StructType(Seq(
      StructField("node", LongType, nodeNull),
      StructField("group_id", LongType, ccRounds >= 1 || nodeNull),
      StructField("group_size", LongType, false))),
      (0 until pg.size).map(v => Row(pg.ids(v), pg.ids(label(v)), size(label(v)))))
  }
}
