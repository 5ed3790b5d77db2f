package perfbench

import Corpus.{Bin, hex}

/** What the generator knows about its corpus, computed without Spark:
  * the expected answer of every session op, and the node and edge
  * counts an import must produce. Each answer mirrors the documented
  * semantics of the matching `GraphQueryEngine` call, scoped to one
  * binary (its functions plus the imports it declares).
  */
final class Facts(bins: Seq[Bin]) {

  final case class Edge(from: String, to: String, offset: String, kind: String)

  /** Counts of (binaries, functions, strings, libraries, calls), the
    * columns of `database stats`. */
  lazy val stats: Seq[Long] = Seq(
    bins.map(_.hash).distinct.size.toLong,
    (bins.flatMap(b => b.fns.map(f => b.fnUid(f.addr))) ++
      bins.flatMap(_.imports.map(_.uid))).distinct.size.toLong,
    bins.flatMap(_.strings.map(_._1)).distinct.size.toLong,
    bins.flatMap(_.imports.map(_.library.toLowerCase)).distinct.size.toLong,
    bins.flatMap(b => edges(b).map(e => (e.from, e.to))).distinct.size.toLong)

  /** Row counts of the remaining graph tables, by table name. */
  lazy val tableRows: Map[String, Long] = Map(
    "contains" -> bins.map(_.fns.size.toLong).sum,
    "imports_fn" -> bins.map(_.imports.map(_.uid).distinct.size.toLong).sum,
    "contains_string" -> bins.map(_.strings.distinct.size.toLong).sum,
    "call_sites" -> bins.map(_.calls.size.toLong).sum)

  private val edgeMemo = scala.collection.mutable.Map.empty[String, Vector[Edge]]
  /** The binary's call edges over uids (the generator never repeats a
    * (caller, callee) pair, so each call is one edge). */
  def edges(b: Bin): Vector[Edge] = edgeMemo.getOrElseUpdate(b.hash,
    b.calls.map(c => Edge(b.fnUid(c.from), b.uidAt(c.to), hex(c.site), c.kind.capitalize)))

  /** uid -> display name for everything in the binary's scope. */
  def scope(b: Bin): Map[String, String] =
    b.fns.map(f => b.fnUid(f.addr) -> f.name).toMap ++
      b.imports.map(i => i.uid -> i.name)

  def startUid(b: Bin, fn: String): String =
    b.fnUid(b.fns.find(_.name == fn).get.addr)

  /** `query functions --pattern p --binary b`: uids ordered, limited. */
  def functions(b: Bin, pattern: String, limit: Int): Seq[String] =
    scope(b).collect { case (uid, n) if n.contains(pattern) || uid.contains(pattern) => uid }
      .toSeq.sorted.take(limit)

  /** `query callgraph`: (direction, depth, uid) ordered as the engine
    * orders them, min depth per node, the start excluded. */
  def callgraph(b: Bin, fn: String, depth: Int, limit: Int): Seq[(String, Int, String)] = {
    val es = edges(b)
    def bfs(next: String => Seq[String]): Seq[(Int, String)] = {
      val start = startUid(b, fn)
      val seen = scala.collection.mutable.Set(start)
      var frontier = Seq(start)
      (1 to depth).flatMap { d =>
        frontier = frontier.flatMap(next).distinct.filter(seen.add)
        frontier.map(d -> _)
      }
    }
    val out = es.groupBy(_.from).map { case (k, v) => k -> v.map(_.to) }
    val in = es.groupBy(_.to).map { case (k, v) => k -> v.map(_.from) }
    val callee = bfs(u => out.getOrElse(u, Nil)).map { case (d, u) => ("callee", d, u) }
    val caller = bfs(u => in.getOrElse(u, Nil)).map { case (d, u) => ("caller", d, u) }
    (callee ++ caller).sorted.take(limit)
  }

  /** `query call-path --show-paths`: one (depth, offsets) per
    * edge-simple walk of 1..depth calls from the start; offsets are
    * the decimal call-site addresses joined by commas. */
  def callPaths(b: Bin, fn: String, depth: Int): Seq[(Int, String)] = {
    val out = edges(b).groupBy(_.from)
    def walk(node: String, used: Set[Edge], offs: Vector[String]): Seq[(Int, String)] =
      if (offs.size == depth) Nil
      else out.getOrElse(node, Nil).filterNot(used).flatMap { e =>
        val o = offs :+ java.lang.Long.parseLong(e.offset.drop(2), 16).toString
        (o.size, o.mkString(",")) +: walk(e.to, used + e, o)
      }
    walk(startUid(b, fn), Set.empty, Vector.empty).sorted
  }

  /** `--show-sequences`: direct callees in call-site order. */
  def sequences(b: Bin, fn: String): Seq[(String, String, String, String, Int)] = {
    val s = startUid(b, fn)
    edges(b).filter(_.from == s).sortBy(e => (e.offset, e.to)).zipWithIndex
      .map { case (e, i) => (e.from, e.to, e.offset, e.kind, i + 1) }
  }

  /** `--show-upward`: callers in call-site order. */
  def callers(b: Bin, fn: String): Seq[(String, String, String, String, Int)] = {
    val s = startUid(b, fn)
    edges(b).filter(_.to == s).sortBy(e => (e.offset, e.from)).zipWithIndex
      .map { case (e, i) => (e.to, e.from, e.offset, e.kind, i + 1) }
  }

  /** `--show-recursive` at depth 4: a Direct row for a self call, and
    * an Indirect row per length 2..4 with the number of edge-simple
    * closed walks through the start (self calls excluded). */
  def recursion(b: Bin, fn: String): Set[(String, String, Int, Long)] = {
    val s = startUid(b, fn)
    val es = edges(b)
    val out = es.filter(e => e.from != e.to).groupBy(_.from)
    val counts = new Array[Long](5)
    def walk(node: String, used: Set[Edge], len: Int): Unit =
      if (len < 4) out.getOrElse(node, Nil).filterNot(used).foreach { e =>
        if (e.to == s) counts(len + 1) += 1
        walk(e.to, used + e, len + 1)
      }
    walk(s, Set.empty, 0)
    val direct = if (es.exists(e => e.from == s && e.to == s)) Set((s, "Direct", 1, 1L)) else Set.empty
    direct ++ (2 to 4).filter(counts(_) > 0).map(d => (s, "Indirect", d, counts(d)))
  }

  /** `query xrefs <addr> --binary b`: calls touching the function at
    * that address, as (from, to, offset). */
  def xrefs(b: Bin, addr: Long): Seq[(String, String, String)] = {
    val t = b.fnUid(addr)
    edges(b).filter(e => e.from == t || e.to == t).map(e => (e.from, e.to, e.offset))
      .distinct.sorted
  }

  /** Per-callee direct call frequency: (callee uid, 1) per edge. */
  def callFreq(b: Bin, fn: String): Seq[(String, Long)] = {
    val s = startUid(b, fn)
    edges(b).filter(_.from == s).map(_.to).distinct.sorted.map(_ -> 1L)
  }

  /** `query strings --pattern term --binary b`: values with a token
    * containing the term. */
  def strings(b: Bin, term: String): Set[String] =
    b.strings.map(_._1).filter(_.toLowerCase.split("[^a-z0-9]+").exists(_.contains(term))).toSet
}
