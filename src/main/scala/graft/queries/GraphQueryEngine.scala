package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DriverCollect.bounded
import graft.functions.KeyedFrameMemo
import graft.functions.TextOps.sparkOrder
import graft.graph.LocalGraph.{Csr, bfs, cycleTrails, trails}
import graft.graph.Traversal
import graft.importer.BinaryGraph
import graft.search.Fulltext

/** The reference CLI's full query surface over an imported
  * [[BinaryGraph]] — what a BinaryX-Graph user calls after switching
  * engines (src/commands/query.rs): `query functions|strings|binary|
  * callgraph|call-path|xrefs` and `database stats`.
  *
  * Binary scoping mirrors the Cypher `(b)-[:CONTAINS|IMPORTS]->(f)`
  * pattern: a scope is the functions its binaries contain or import.
  * Each binary scope keeps one memo until [[close]]:
  *  - a driver-side [[GraphQueryEngine.Snapshot]] of the scope's
  *    function and call rows; from the first [[xrefs]] on, the store's
  *    import rows of the scope's call ends; from the first string
  *    query on, the scope's [[GraphQueryEngine.Strings]]. Each part is collected by scans
  *    filtered on the scope's binary hashes or function uids (no join,
  *    no shuffle) when it fits under Spark's own
  *    `spark.sql.autoBroadcastJoinThreshold` (what Spark would ship
  *    whole to every task anyway). `queryFunctions`, `callgraph`,
  *    `callPaths`, `analyzeCallContext`, `callSequences`,
  *    `callerSequences`, `findRecursion`, `callFrequencies`, `xrefs`,
  *    `queryStrings` and `queryStringsExact` answer from it in plain
  *    Scala as local DataFrames, so a warm scope runs no Spark job;
  *  - otherwise (a larger scope, a threshold of -1, or two uids whose
  *    xxhash64 ids collide) cached (calls, ids, edges) frames, over
  *    which the numeric-id [[Traversal]] primitives run distributed.
  *    The whole-graph analytics always use these frames.
  * `queryStringsRaw`, `queryBinaryInfo` and `stats` always run
  * distributed.
  */
class GraphQueryEngine(g: BinaryGraph) {
  import GraphQueryEngine._

  /** Functions of a binary = CONTAINS ∪ IMPORTS targets. */
  private def membership: DataFrame =
    g.contains.select(col("binary_hash"), col("function_uid"))
      .unionByName(g.importsFn.select(col("binary_hash"), col("function_uid")))
      .distinct()

  /** Binaries matching `--binary` (filename contains | exact hash). */
  private def binaryMatches(pattern: String): DataFrame =
    g.binaries.filter(col("filename").contains(pattern) || col("hash") === pattern)
      .select(col("hash").as("binary_hash"))

  /** Function uids visible under an optional binary filter. */
  private def scopeUids(binary: Option[String]): DataFrame = binary match {
    case None => g.functions.select(col("uid"))
    case Some(b) =>
      membership.join(broadcast(binaryMatches(b)), "binary_hash")
        .select(col("function_uid").as("uid")).distinct()
  }

  /** `query functions --pattern` (importer.rs:322-376): substring on
    * name or uid, optional binary scope, first `limit` by uid
    * (cli.rs:65 `--limit`, default 100). */
  def queryFunctions(pattern: String, binary: Option[String] = None,
      limit: Int = 100): DataFrame = snapshot(binary) match {
    case Some(s) =>
      def has(v: String) = v != null && pattern != null && v.contains(pattern)
      local(g.functions.schema, s.fns.toSeq
        .filter(r => has(r.getString(nameAt)) || has(r.getString(uidAt)))
        .sortBy(_.getString(uidAt))(sparkOrder).take(limit))
    case None =>
      g.functions
        .join(scopeUids(binary), Seq("uid"), "left_semi")
        .filter(col("name").contains(pattern) || col("uid").contains(pattern))
        .orderBy("uid").limit(limit)
  }

  /** `query binary --binary-name` (importer.rs:431-469). */
  def queryBinaryInfo(name: String): DataFrame =
    g.binaries.filter(col("hash") === name || col("filename").contains(name))
      .orderBy("hash").limit(1)

  /** Edges restricted to an optional binary scope (every endpoint
    * must be visible in the scope — the Cypher ALL(n IN nodes(path))
    * condition). */
  private def scopedCalls(binary: Option[String]): DataFrame = binary match {
    case None => g.calls
    case Some(_) =>
      val uids = scopeUids(binary)
      g.calls
        .join(uids.withColumnRenamed("uid", "from_uid"), Seq("from_uid"), "left_semi")
        .join(uids.withColumnRenamed("uid", "to_uid"), Seq("to_uid"), "left_semi")
  }

  /** A scope's distributed form: the cached scoped calls, the (uid, id)
    * dictionary with its measured size, and the (src, dst, offset)
    * edges. `calls` rides along so [[close]] can unpersist it. */
  private final class Frames(val calls: DataFrame, val ids: DataFrame,
      val nodes: Long, val e: DataFrame) {
    /** |edges|, counted on first need. With `nodes` it bounds the
      * recursion DP's start × edge volume, so a call pays no sizing
      * count of its own. */
    lazy val edges: Long = e.count()
  }

  /** One binary scope's memo. Each driver-side part is collected once,
    * on the first call that uses it (`None`: it does not fit): the
    * filter on the scope's binary hashes, the call-graph [[Snapshot]],
    * the import rows that only [[xrefs]] reads, and the [[Strings]]
    * that only string queries read. The frames are built on the first
    * call that needs them. */
  private final class ScopeMemo(binary: Option[String]) {
    lazy val inScope: Option[Column => Column] = binaryFilter(binary)
    lazy val snapshot: Option[Snapshot] = inScope.flatMap(buildSnapshot(binary, _))
    /** The store's (function_uid, address) import rows of the
      * snapshot's call ends, from every binary that imports them. */
    lazy val imports: Option[Array[Row]] = snapshot.flatMap(s =>
      bounded(g.importsFn.filter(col("function_uid").isInCollection(s.ids.keySet))
        .select(col("function_uid"), col("address"))))
    lazy val strings: Option[Strings] = inScope.flatMap(buildStrings)
    var frames: Option[Frames] = None
  }

  private val scopes =
    scala.collection.mutable.Map.empty[Option[String], ScopeMemo]

  private def memo(binary: Option[String]): ScopeMemo =
    scopes.getOrElseUpdate(binary, new ScopeMemo(binary))

  private def snapshot(binary: Option[String]): Option[Snapshot] =
    scopes.synchronized(memo(binary).snapshot)

  private def strings(binary: Option[String]): Option[Strings] =
    scopes.synchronized(memo(binary).strings)

  private def withImports(binary: Option[String]): Option[(Snapshot, Array[Row])] =
    scopes.synchronized { val m = memo(binary); m.snapshot.zip(m.imports) }

  private def frames(binary: Option[String]): Frames = scopes.synchronized {
    val m = memo(binary)
    m.frames.getOrElse {
      val f = buildFrames(binary)
      m.frames = Some(f)
      f
    }
  }

  /** A call row's offset as a long (0 when unparseable). */
  private def offsetOf(c: Column): Column =
    coalesce(graft.importer.Addresses.parseAddress(c), lit(0L))

  /** A filter over `c` that keeps the non-null values of `rows`' first
    * column: a literal set, so a scan applies it without a join. */
  private def isIn(rows: Array[Row])(c: Column): Column =
    c.isInCollection(rows.iterator.map(_.getString(0)).filter(_ != null).toSet)

  /** The scope's filter on a `binary_hash` column: every binary, or the
    * collected hashes `--binary` matches (`None` when over the cap). */
  private def binaryFilter(binary: Option[String]): Option[Column => Column] = binary match {
    case None => Some(_ => lit(true))
    case Some(b) => bounded(binaryMatches(b)).map(isIn)
  }

  /** The scope's function rows and its call rows (with the parsed
    * offset). A binary scope collects its function uids from
    * `contains` ∪ `importsFn` first, and both parts are scans filtered
    * by that uid set, so the build shuffles nothing. `None` when a part
    * is over its cap or two uids collide. */
  private def buildSnapshot(binary: Option[String],
      inScope: Column => Column): Option[Snapshot] = {
    def members(t: DataFrame) = t.filter(inScope(col("binary_hash"))).select(col("function_uid"))
    val inUids: Option[Column => Column] =
      if (binary.isEmpty) Some(_ => lit(true))
      else bounded(members(g.contains).unionByName(members(g.importsFn))).map(isIn)
    for {
      in <- inUids
      fns <- bounded(g.functions.filter(in(col("uid"))))
      calls <- bounded(g.calls.filter(in(col("from_uid")) && in(col("to_uid")))
        .select(col("from_uid"), col("to_uid"), col("call_offset"), col("call_type"),
          offsetOf(col("call_offset")).as("offset")))
      s <- Snapshot(fns, calls, uidAt)
    } yield s
  }

  /** The scope's `contains_string` rows and the `strings` rows they
    * name, each one capped scan (`None` when either is over its cap). */
  private def buildStrings(inScope: Column => Column): Option[Strings] = for {
    held <- bounded(g.containsString.filter(inScope(col("binary_hash")))
      .select(col("string_uid"), col("binary_hash")))
    docs <- bounded(g.strings.filter(isIn(held)(col("uid"))).select(col("uid"), col("value")))
  } yield new Strings(Fulltext.LocalIndex(g.strings.sparkSession,
      docs.toSeq.map(r => r.getString(0) -> r.getString(1))),
    docs.groupBy(_.getString(0)),
    held.groupBy(_.getString(0)).view
      .mapValues(_.iterator.map(_.getString(1)).filter(_ != null).toSet.size.toLong).toMap)

  /** Long ids for traversal: (uid, id) dictionary via xxhash64 —
    * embarrassingly parallel (a dense_rank over a global window would
    * single-partition sort the whole uid set at scale), with the
    * collision check of [[GraphQueryEngine.uidDictionary]]. */
  private def buildFrames(binary: Option[String]): Frames = {
    val calls = scopedCalls(binary).cache()
    val uids = calls.select(col("from_uid").as("uid"))
      .unionByName(calls.select(col("to_uid").as("uid")))
      .distinct()
    val (ids, nodes) = countedUidDictionary(uids, xxhash64(_))
    val e = calls
      .join(ids.withColumnRenamed("uid", "from_uid").withColumnRenamed("id", "src"),
        Seq("from_uid"))
      .join(ids.withColumnRenamed("uid", "to_uid").withColumnRenamed("id", "dst"),
        Seq("to_uid"))
      .select(col("src"), col("dst"), offsetOf(col("call_offset")).as("offset"))
    new Frames(calls, ids, nodes, e.cache())
  }

  private def withIds(binary: Option[String]): (DataFrame, DataFrame) = {
    val f = frames(binary)
    (f.ids, f.e)
  }

  /** Release every scope memo: unpersist the cached frames, and drop
    * every memo entry keyed by a scope's edge frame (the traversal
    * projections, the triangle family's adjacency, …) with its
    * checkpoint blocks. The engine remains usable — the next query
    * rebuilds its scope. */
  def close(): Unit = scopes.synchronized {
    scopes.values.flatMap(_.frames).foreach { f =>
      KeyedFrameMemo.release(f.e)
      f.calls.unpersist()
      f.ids.unpersist()
      f.e.unpersist()
    }
    scopes.clear()
  }

  private val uidAt = g.functions.schema.fieldIndex("uid")
  private val nameAt = g.functions.schema.fieldIndex("name")
  private val addressAt = g.functions.schema.fieldIndex("address")

  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    g.functions.sparkSession.createDataFrame(rows.asJava, schema)

  private def fnField(name: String): StructField = g.functions.schema(name)
  private def callField(name: String, as: String): StructField =
    g.calls.schema(name).copy(name = as)

  /** Does a function row match `--function` (its name or its uid)? */
  private def named(functionName: String)(r: Row): Boolean =
    functionName != null &&
      (functionName == r.getString(nameAt) || functionName == r.getString(uidAt))

  /** Uids of the scope functions matching `functionName`. */
  private def startUids(s: Snapshot, functionName: String): Set[String] =
    s.fns.iterator.filter(named(functionName)).map(_.getString(uidAt)).toSet

  /** Traversal ids of the matching functions that take part in a call,
    * one per matching row — the snapshot form of `startIds ⋈ ids`. */
  private def startNodes(s: Snapshot, functionName: String): Seq[Long] =
    s.fns.toSeq.filter(named(functionName)).flatMap(r => s.ids.get(r.getString(uidAt)))

  private def startIds(functionName: String, binary: Option[String]): DataFrame =
    g.functions
      .filter(col("name") === functionName || col("uid") === functionName)
      .join(scopeUids(binary), Seq("uid"), "left_semi")
      .select(col("uid"))

  /** `query callgraph --max-depth` (importer.rs:471-550): DISTINCT
    * callees and callers within depth. */
  def callgraph(functionName: String, binary: Option[String] = None,
      maxDepth: Int = 3): DataFrame = snapshot(binary) match {
    case Some(s) =>
      val starts = startNodes(s, functionName).distinct
      val rows = for {
        (direction, adj) <- Seq("callee" -> s.out, "caller" -> s.in)
        (node, depth) <- bfs(adj, starts, maxDepth)
        f <- s.fnsByUid.getOrElse(s.uidOf(node), Array.empty[Row])
      } yield Row(direction, f.getString(uidAt), f.get(nameAt), f.get(addressAt), depth)
      local(StructType(Seq(StructField("direction", StringType, false), fnField("uid"),
          fnField("name"), fnField("address"), StructField("depth", IntegerType, false))),
        rows.sortBy(r => (r.getString(0), r.getInt(4), r.getString(1)))(
          Ordering.Tuple3(sparkOrder, Ordering.Int, sparkOrder)))
    case None =>
      val (ids, e) = withIds(binary)
      val starts = startIds(functionName, binary)
        .join(ids, "uid").select(col("id").as("node"))
      val reach = Traversal.bfs(e, starts, maxDepth)
        .withColumn("direction", lit("callee"))
        .unionByName(Traversal.bfs(e, starts, maxDepth, reverse = true)
          .withColumn("direction", lit("caller")))
      reach.join(ids, reach("node") === ids("id"))
        .join(g.functions, "uid")
        .select(col("direction"), col("uid"), col("name"), col("address"), col("depth"))
        .orderBy("direction", "depth", "uid")
  }

  /** (start_uid, path, offsets, depth) of every trail from the matching
    * functions over `adj`, in `orderBy(start_uid, depth, path)` order. */
  private def trailRows(s: Snapshot, adj: Csr, functionName: String,
      maxDepth: Int): Seq[(String, String, String, Int)] =
    startNodes(s, functionName)
      .flatMap(n => trails(adj, n, maxDepth).map { case (p, o, d) => (s.uidOf(n), p, o, d) })
      .sortBy(t => (t._1, t._4, t._2, t._3))(
        Ordering.Tuple4(sparkOrder, Ordering.Int, sparkOrder, sparkOrder))

  private val pathFields = Seq(StructField("start_uid", StringType),
    StructField("path", StringType), StructField("offsets", StringType),
    StructField("depth", IntegerType, false))

  /** `query call-path --show-paths` (call_path_analyzer.rs:20-110). */
  def callPaths(functionName: String, binary: Option[String] = None,
      maxDepth: Int = 3): DataFrame = snapshot(binary) match {
    case Some(s) =>
      local(StructType(pathFields), trailRows(s, s.out, functionName, maxDepth)
        .map { case (u, p, o, d) => Row(u, p, o, d) })
    case None =>
      val (ids, e) = withIds(binary)
      val starts = startIds(functionName, binary)
        .join(ids, "uid").select(col("id").as("node"))
      val w = Traversal.walks(e, starts, maxDepth)
      w.join(ids, w("start") === ids("id"))
        .select(col("uid").as("start_uid"), col("path"), col("offsets"), col("depth"))
        .orderBy("start_uid", "depth", "path")
  }

  /** Calls whose column `key` (0 = caller, 1 = callee) is in `keys`,
    * numbered per key in (call_offset, other end) order, as rows
    * (key, other end, call_offset, call_type, ord) ordered by key and
    * ord — the snapshot form of the `row_number` window. */
  private def sequenceRows(s: Snapshot, keys: Set[String], key: Int): Seq[Row] = {
    val other = 1 - key
    s.calls.toSeq.filter(r => r.getString(key) != null && keys(r.getString(key)))
      .groupBy(_.getString(key)).toSeq
      .sortBy(_._1)(sparkOrder)
      .flatMap { case (k, rs) =>
        rs.sortBy(r => (r.getString(2), r.getString(other)))(
            Ordering.Tuple2(sparkOrder, sparkOrder))
          .zipWithIndex.map { case (r, i) => Row(k, r.getString(other), r.get(2), r.get(3), i + 1) }
      }
  }

  private def sequenceSchema(key: String, other: String): StructType = StructType(Seq(
    callField(if (key == "caller") "from_uid" else "to_uid", key),
    callField(if (key == "caller") "to_uid" else "from_uid", other),
    callField("call_offset", "call_offset"), callField("call_type", "call_type"),
    StructField("ord", IntegerType, false)))

  /** `--show-sequences`: direct callees in call-site order
    * (call_path_analyzer.rs:196-251). */
  def callSequences(functionName: String, binary: Option[String] = None): DataFrame =
    snapshot(binary) match {
      case Some(s) =>
        local(sequenceSchema("caller", "callee"),
          sequenceRows(s, startUids(s, functionName), key = 0))
      case None =>
        val starts = startIds(functionName, binary)
        scopedCalls(binary)
          .join(starts.withColumnRenamed("uid", "from_uid"), Seq("from_uid"), "left_semi")
          .withColumn("ord", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("from_uid")
              .orderBy("call_offset", "to_uid")))
          .select(col("from_uid").as("caller"), col("to_uid").as("callee"),
            col("call_offset"), col("call_type"), col("ord"))
          .orderBy("caller", "ord")
    }

  /** `--show-upward`: who calls this, in call-site order
    * (call_path_analyzer.rs:433-500). */
  def callerSequences(functionName: String, binary: Option[String] = None): DataFrame =
    snapshot(binary) match {
      case Some(s) =>
        local(sequenceSchema("callee", "caller"),
          sequenceRows(s, startUids(s, functionName), key = 1))
      case None =>
        val starts = startIds(functionName, binary)
        scopedCalls(binary)
          .join(starts.withColumnRenamed("uid", "to_uid"), Seq("to_uid"), "left_semi")
          .withColumn("ord", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("to_uid")
              .orderBy("call_offset", "from_uid")))
          .select(col("to_uid").as("callee"), col("from_uid").as("caller"),
            col("call_offset"), col("call_type"), col("ord"))
          .orderBy("callee", "ord")
    }

  /** Recursion detection (call_path_analyzer.rs:253-331). */
  def findRecursion(functionName: String, binary: Option[String] = None,
      maxDepth: Int = 10): DataFrame = snapshot(binary) match {
    case Some(s) =>
      val rows = startNodes(s, functionName).distinct.flatMap { n =>
        val uid = s.uidOf(n)
        val i = s.out.indexOf(n)
        val direct = if (i >= 0 && s.out.hasSelfLoop(i)) Seq(Row(uid, "Direct", 1, 1L)) else Nil
        direct ++ cycleTrails(s.out, n, maxDepth).map { case (d, c) => Row(uid, "Indirect", d, c) }
      }
      local(StructType(Seq(StructField("uid", StringType),
          StructField("call_type", StringType, false), StructField("depth", IntegerType, false),
          StructField("n_cycles", LongType, false))),
        rows.sortBy(r => (r.getString(1), r.getInt(2), r.getString(0)))(
          Ordering.Tuple3(sparkOrder, Ordering.Int, sparkOrder)))
    case None =>
      val f = frames(binary)
      val starts = startIds(functionName, binary)
        .join(f.ids, "uid").select(col("id").as("node"))
      // starts ⊆ the scope's dictionary, so its size bounds them
      val rec = Traversal.recursion(f.e, starts, maxDepth, Some(f.nodes), Some(f.edges))
      rec.join(f.ids, rec("node") === f.ids("id"))
        .join(starts.withColumnRenamed("node", "id"), Seq("id"), "left_semi")
        .select(col("uid"), col("call_type"), col("depth"), col("n_cycles"))
        .orderBy("call_type", "depth")
  }

  /** `query xrefs <address>` (importer.rs:552-602): the scope's calls
    * touching a function at the given (normalized) address, or an
    * import that any binary's import table lists at it. */
  def xrefs(address: String, binary: Option[String] = None): DataFrame = {
    val norm = graft.importer.Addresses.normalizeAddressLit(address)
    withImports(binary) match {
      case Some((s, imports)) =>
        // Spark's own normalization, folded by the optimizer: no job
        val at = local(StructType(Nil), Seq(Row())).select(norm).collect().head.getString(0)
        val targets =
          if (at == null) Set.empty[String]
          else (s.fns.iterator.filter(_.getString(addressAt) == at).map(_.getString(uidAt)) ++
            imports.iterator.filter(_.getString(1) == at).map(_.getString(0))).toSet - null
        local(StructType(Seq(callField("from_uid", "from_function"),
            callField("to_uid", "to_function"), callField("call_offset", "call_offset"))),
          s.calls.toSeq.filter(r => targets(r.getString(0)) || targets(r.getString(1)))
            .map(r => Row(r.getString(0), r.getString(1), r.getString(2))).distinct
            .sortBy(r => (r.getString(0), r.getString(1), r.getString(2)))(
              Ordering.Tuple3(sparkOrder, sparkOrder, sparkOrder)))
      case None =>
        val target = g.functions.filter(col("address") === norm).select(col("uid"))
          .unionByName(g.importsFn.filter(col("address") === norm)
            .select(col("function_uid").as("uid")))
          .distinct()
        scopedCalls(binary)
          .join(broadcast(target.withColumnRenamed("uid", "t")),
            col("from_uid") === col("t") || col("to_uid") === col("t"))
          .select(col("from_uid").as("from_function"), col("to_uid").as("to_function"),
            col("call_offset"))
          .distinct()
          .orderBy("from_function", "to_function", "call_offset")
    }
  }

  private def scopedStrings(binary: Option[String]): (DataFrame, DataFrame) = {
    val scoped = binary match {
      case None => g.containsString
      case Some(b) =>
        g.containsString.join(broadcast(binaryMatches(b)), "binary_hash")
    }
    val docs = g.strings
      .join(scoped.select(col("string_uid").as("uid")).distinct(), Seq("uid"), "left_semi")
      .select(col("uid").as("doc_id"), col("value").as("text"))
    (scoped, docs)
  }

  /** The string rows of ranked (uid, score) hits, with each string's
    * `sample_count`, as [[withSampleCount]] joins them. */
  private def stringRows(s: Strings, hits: Seq[(String, Double)]): DataFrame =
    local(StructType(Seq(g.strings.schema("uid"), g.strings.schema("value"),
        StructField("score", DoubleType), StructField("sample_count", LongType, false))),
      hits.flatMap { case (u, score) => s.values(u).map(r => Row(u, r.get(1), score, s.samples(u))) })

  private def withSampleCount(hits: DataFrame, scoped: DataFrame): DataFrame = {
    val sampleCount = scoped.groupBy(col("string_uid").as("doc_id"))
      .agg(countDistinct("binary_hash").as("sample_count"))
    hits.join(sampleCount, "doc_id")
      .join(g.strings.withColumnRenamed("uid", "doc_id"), "doc_id")
      .select(col("doc_id").as("uid"), col("value"), col("score"), col("sample_count"))
      .orderBy(col("score").desc, col("uid"))
  }

  /** `query strings --pattern` via the distributed fulltext index
    * (importer.rs:378-429): tf-idf score + per-binary sample count.
    * Default mode mirrors the reference's
    * `default_string_fulltext_query` (query.rs:113-135): every term
    * is an infix wildcard `*term*`, terms AND-joined — so
    * `--pattern bitcoin` matches "bitcoinwallet_v2". */
  def queryStrings(terms: Seq[String], binary: Option[String] = None,
      limit: Int = 100): DataFrame = strings(binary) match {
    case Some(s) => stringRows(s, s.index.containsSearch(terms, limit))
    case None =>
      val (scoped, docs) = scopedStrings(binary)
      withSampleCount(Fulltext.containsSearch(docs, terms, limit), scoped)
  }

  /** Exact-token variant of [[queryStrings]] (no wildcards). */
  def queryStringsExact(terms: Seq[String], binary: Option[String] = None,
      limit: Int = 100): DataFrame = strings(binary) match {
    case Some(s) => stringRows(s, s.index.search(terms, limit))
    case None =>
      val (scoped, docs) = scopedStrings(binary)
      withSampleCount(Fulltext.search(docs, terms, limit), scoped)
  }

  /** Per-callee direct call frequency of a function
    * (call_path_analyzer.rs:160-190). */
  def callFrequencies(functionName: String, binary: Option[String] = None): DataFrame =
    snapshot(binary) match {
      case Some(s) =>
        val from = startUids(s, functionName)
        local(StructType(Seq(callField("to_uid", "callee_uid"),
            StructField("frequency", LongType, false))),
          s.calls.toSeq.filter(r => r.getString(0) != null && from(r.getString(0)))
            .groupBy(_.getString(1)).toSeq.sortBy(_._1)(sparkOrder)
            .map { case (to, rs) => Row(to, rs.size.toLong) })
      case None =>
        val starts = startIds(functionName, binary)
        scopedCalls(binary)
          .join(starts.withColumnRenamed("uid", "from_uid"), Seq("from_uid"), "left_semi")
          .groupBy(col("to_uid").as("callee_uid"))
          .agg(count(lit(1)).as("frequency"))
          .orderBy("callee_uid")
    }

  /** `query callgraph` enhanced form (call_path_analyzer.rs:112-193):
    * distinct reachable callees annotated with the direct-call
    * frequency (0 for transitively-reached functions). */
  def enhancedCallGraph(functionName: String, binary: Option[String] = None,
      maxDepth: Int = 3): DataFrame = {
    val callees = callgraph(functionName, binary, maxDepth)
      .filter(col("direction") === "callee")
      .select(col("uid"), col("name"), col("address"), col("depth"))
    callees
      .join(callFrequencies(functionName, binary)
        .withColumnRenamed("callee_uid", "uid"), Seq("uid"), "left")
      .withColumn("frequency", coalesce(col("frequency"), lit(0L)))
      .orderBy("depth", "uid")
  }

  /** `query call-path --show-context` (call_path_analyzer.rs:502-538):
    * upward chains + downward paths in one frame, tagged by role. */
  def analyzeCallContext(functionName: String, binary: Option[String] = None,
      maxDepth: Int = 3): DataFrame = snapshot(binary) match {
    case Some(s) =>
      local(StructType(pathFields :+ StructField("role", StringType, false)),
        Seq("downward_path" -> s.out, "upward_chain" -> s.in).flatMap { case (role, adj) =>
          trailRows(s, adj, functionName, maxDepth).map { case (u, p, o, d) => Row(u, p, o, d, role) }
        })
    case None =>
      val down = callPaths(functionName, binary, maxDepth)
        .withColumn("role", lit("downward_path"))
      val (ids, e) = withIds(binary)
      val starts = startIds(functionName, binary)
        .join(ids, "uid").select(col("id").as("node"))
      val up = Traversal.walks(e, starts, maxDepth, reverse = true)
      val upNamed = up.join(ids, up("start") === ids("id"))
        .select(col("uid").as("start_uid"), col("path"), col("offsets"), col("depth"))
        .withColumn("role", lit("upward_chain"))
      down.unionByName(upNamed).orderBy("role", "start_uid", "depth", "path")
  }

  /** Context insights summary (CallContextAnalysis
    * generate_context_insights, models/call_path.rs:209-223). */
  def contextInsights(functionName: String, binary: Option[String] = None,
      maxDepth: Int = 3): DataFrame = {
    val ctx = analyzeCallContext(functionName, binary, maxDepth)
    val callers = callerSequences(functionName, binary)
    ctx.groupBy("role").agg(count(lit(1)).as("n"))
      .unionByName(callers.agg(lit("caller_sequences").as("role"),
        count(lit(1)).as("n")))
      .orderBy("role")
  }

  /** `query strings --raw`: boolean (Lucene-style) query over the
    * fulltext index (README raw-query mode). */
  def queryStringsRaw(query: String, binary: Option[String] = None,
      limit: Int = 100): DataFrame = {
    val (_, docs) = scopedStrings(binary)
    Fulltext.booleanSearch(docs, query, limit)
      .join(g.strings.withColumnRenamed("uid", "doc_id"), "doc_id")
      .select(col("doc_id").as("uid"), col("value"), col("score"), col("n_atoms"))
      .orderBy(col("score").desc, col("uid"))
  }

  /** `database stats` (importer.rs:27-80). */
  def stats(): DataFrame = graft.importer.JsonImporter.stats(g)

  // ---- whole-graph analytics (Spark-native additions; the Neo4j
  // reference has no analogue) over the optionally binary-scoped call
  // graph, results mapped back to function uids ---------------------

  /** Map a numeric-id analytics result back to function uids: joins
    * `node` against the scope's id dictionary and keeps `extra`. */
  private def mapBack(df: DataFrame, ids: DataFrame, extra: String): DataFrame =
    df.join(ids, col("node") === col("id"))
      .select(col("uid"), col(extra))

  /** Connected components of the call graph (undirected), labeled by
    * a member uid — [[graft.graph.Components.auto]] under the hood
    * (label-prop budget, alternating-star fallback). */
  def components(binary: Option[String] = None): DataFrame = {
    val (ids, e) = withIds(binary)
    mapBack(graft.graph.Components.auto(e), ids, "component")
      .join(ids.select(col("uid").as("component_uid"), col("id").as("cid")),
        col("component") === col("cid"))
      .select(col("uid"), col("component_uid"))
      .orderBy("uid")
  }

  /** Function importance via fixed-point PageRank
    * ([[graft.graph.Ranking.pageRank]]), most important first. */
  def pageRank(binary: Option[String] = None, iters: Int = 3): DataFrame = {
    val (ids, e) = withIds(binary)
    mapBack(graft.graph.Ranking.pageRank(e, iters), ids, "pagerank_ppm")
      .orderBy(col("pagerank_ppm").desc, col("uid"))
  }

  /** Dense callgraph backbone: k-core survivors with their core
    * degree ([[graft.graph.Ranking.kCoreBounded]]). */
  def kCore(k: Int = 3, binary: Option[String] = None): DataFrame = {
    val (ids, e) = withIds(binary)
    mapBack(graft.graph.Ranking.kCoreBounded(e, k), ids, "core_deg")
      .orderBy("uid")
  }

  /** Callgraph clustering structure: total triangle count
    * ([[graft.graph.Ranking.triangleCount]]). */
  def triangleCount(binary: Option[String] = None): DataFrame =
    graft.graph.Ranking.triangleCount(withIds(binary)._2)

  /** Module structure via plurality label propagation
    * ([[graft.graph.Components.communities]]) — labels by a member
    * uid, as [[components]] does for connectivity. */
  def communities(binary: Option[String] = None, rounds: Int = 4): DataFrame = {
    val (ids, e) = withIds(binary)
    mapBack(graft.graph.Components.communities(e, rounds), ids, "community")
      .join(ids.select(col("uid").as("community_uid"), col("id").as("cid")),
        col("community") === col("cid"))
      .select(col("uid"), col("community_uid"))
      .orderBy("uid")
  }

  /** Partition quality of the [[communities]] labeling: Newman Q in
    * exact integer ppm ([[graft.graph.Components.modularity]]) — one
    * (n_communities, m_edges, q_ppm) row. */
  def modularity(binary: Option[String] = None, rounds: Int = 4): DataFrame =
    graft.graph.Components.modularity(withIds(binary)._2, rounds)

  /** Macro architecture: bow-tie decomposition relative to the giant
    * SCC ([[graft.graph.Components.bowTie]]) — core = the
    * mutually-recursive engine, in = drivers, out = leaf utilities,
    * other = peripheral code. Four summary rows. */
  def bowTie(binary: Option[String] = None, depth: Int = 8): DataFrame =
    graft.graph.Components.bowTie(withIds(binary)._2, depth)

  /** Per-function local clustering
    * ([[graft.graph.Ranking.localClustering]]): how clique-like each
    * function's call neighborhood is, most clustered first. */
  def localClustering(binary: Option[String] = None): DataFrame = {
    val (ids, e) = withIds(binary)
    graft.graph.Ranking.localClustering(e)
      .join(ids, col("node") === col("id"))
      .select(col("uid"), col("degree"), col("n_tri"), col("lcc_ppm"))
      .orderBy(col("lcc_ppm").desc, col("uid"))
  }

  /** Hot-callee sparsification
    * ([[graft.graph.Ranking.sparsifyTopK]]): each function's `k`
    * heaviest call edges by call-site count, with the full
    * out-degree/out-weight so the cut's loss is visible. */
  def sparsify(binary: Option[String] = None, k: Int = 4): DataFrame = {
    val (ids, e) = withIds(binary)
    val w = e.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
    graft.graph.Ranking.sparsifyTopK(w, k)
      .join(ids.select(col("id").as("src"), col("uid").as("caller_uid")), "src")
      .join(ids.select(col("id").as("dst"), col("uid").as("callee_uid")), "dst")
      .select(col("caller_uid"), col("callee_uid"), col("weight"), col("rnk"),
        col("n_edges"), col("w_total"))
      .orderBy("caller_uid", "rnk")
  }

  /** Deterministic walk corpus from every `samplePeriod`-th caller
    * ([[graft.graph.Traversal.randomWalks]]) — the graph-embedding
    * sampling pass, reproducible run-to-run; uids mapped back per
    * step. */
  def walks(binary: Option[String] = None, maxLen: Int = 6,
      samplePeriod: Int = 8): DataFrame = {
    val (ids, e) = withIds(binary)
    val starts = e.select(col("src").as("node"))
      .filter(pmod(col("node"), lit(samplePeriod.toLong)) === 0).distinct()
    graft.graph.Traversal.randomWalks(e, starts, maxLen)
      .join(ids.select(col("id").as("node"), col("uid")), "node")
      .join(ids.select(col("id").as("wid"), col("uid").as("walk_uid")),
        col("walk_id") === col("wid"))
      .select(col("walk_uid"), col("step"), col("uid"))
      .orderBy("walk_uid", "step")
  }

  /** Brokers of the call graph: sampled bounded betweenness
    * ([[graft.graph.Ranking.betweennessSampled]]) from a 1-in-
    * `samplePeriod` source sample (1 = every caller — fine for small
    * binaries, the sampling exists for corpus-scale graphs),
    * most-central first. */
  def betweenness(binary: Option[String] = None, depth: Int = 3,
      samplePeriod: Int = 8): DataFrame = {
    val (ids, e) = withIds(binary)
    val sources = e.select(col("src").as("node"))
      .filter(pmod(col("node"), lit(samplePeriod.toLong)) === 0).distinct()
    mapBack(graft.graph.Ranking.betweennessSampled(e, sources, depth),
      ids, "betweenness_ppm")
      .orderBy(col("betweenness_ppm").desc, col("uid"))
  }

  /** How much of the binary each function transitively touches:
    * exact |N_≤depth| per function ([[graft.graph.Traversal
    * .reachWithin]]); [[graft.graph.Traversal.anfApprox]] is the
    * register-state scale form. */
  def neighborhoodSizes(binary: Option[String] = None, depth: Int = 2): DataFrame = {
    val (ids, e) = withIds(binary)
    val reach = graft.graph.Traversal.reachWithin(
      e, e.select(col("src").as("node")).distinct(), depth)
      .groupBy(col("start").as("node"))
      .agg(count(lit(1)).as("n_reach"))
    mapBack(reach, ids, "n_reach").orderBy("uid")
  }

  /** Distance efficiency per function: sampled bounded closeness
    * ([[graft.graph.Ranking.closeness]]) from a 1-in-`samplePeriod`
    * caller sample, highest first. */
  def closeness(binary: Option[String] = None, depth: Int = 3,
      samplePeriod: Int = 8): DataFrame = {
    val (ids, e) = withIds(binary)
    val starts = e.select(col("src").as("node"))
      .filter(pmod(col("node"), lit(samplePeriod.toLong)) === 0).distinct()
    graft.graph.Ranking.closeness(e, starts, depth)
      .join(ids, col("node") === col("id"))
      .select(col("uid"), col("n_reach"), col("sum_dist"), col("closeness_ppm"))
      .orderBy(col("closeness_ppm").desc, col("uid"))
  }

  /** One-row call-graph shape summary: reciprocity (mutual calls),
    * global clustering (3·triangles/wedges), degree assortativity —
    * the three classic structure diagnostics in one frame. */
  def graphShape(binary: Option[String] = None): DataFrame = {
    val (_, e) = withIds(binary)
    graft.graph.Ranking.reciprocity(e)
      .crossJoin(graft.graph.Ranking.clusteringCoefficient(e)
        .select(col("n_triangles"), col("n_wedges"), col("clustering_ppm")))
      .crossJoin(graft.graph.Ranking.assortativity(e).select(col("assortativity")))
  }
}

object GraphQueryEngine {

  /** A binary scope held on the driver: its function rows, its call
    * rows (from_uid, to_uid, call_offset, call_type, offset), and the
    * traversal view of those calls — forward (`out`) and reverse (`in`)
    * adjacency over the ids the distributed path's dictionary assigns,
    * so path strings match it digit for digit. */
  private final class Snapshot(val fns: Array[Row], val calls: Array[Row],
      val ids: Map[String, Long], uidAt: Int) {
    val uidOf: Map[Long, String] = ids.map(_.swap)
    val fnsByUid: Map[String, Array[Row]] = fns.groupBy(_.getString(uidAt))
    private val edges: Array[(Long, Long, Long)] = calls.flatMap { r =>
      for (a <- ids.get(r.getString(0)); b <- ids.get(r.getString(1)))
        yield (a, b, r.getLong(4))
    }
    val out: Csr = Csr(edges.map(_._1), edges.map(_._2), edges.map(_._3))
    val in: Csr = Csr(edges.map(_._2), edges.map(_._1), edges.map(_._3))
  }

  private object Snapshot {
    /** The snapshot of these rows, or `None` when two call endpoints
      * share an id (the distributed dictionary would fall back to
      * zipWithIndex ids, whose paths a snapshot cannot reproduce). A
      * null endpoint takes part as Spark hashes it: to the seed. */
    def apply(fns: Array[Row], calls: Array[Row], uidAt: Int): Option[Snapshot] = {
      val ends = calls.iterator.flatMap(r => Iterator(r.getString(0), r.getString(1))).toSet
      val ids = ends.iterator.filter(_ != null).map(u => u -> xxhash64Of(u)).toMap
      val distinct = ids.values.toSet ++ (if (ends(null)) Set(Seed) else Set.empty)
      if (distinct.size < ends.size) None else Some(new Snapshot(fns, calls, ids, uidAt))
    }
  }

  /** A binary scope's strings held on the driver: the index of its
    * `strings` rows, those rows by uid, and each uid's `sample_count`
    * (the distinct binaries of the scope that hold it). */
  private final class Strings(val index: Fulltext.LocalIndex,
      val values: Map[String, Array[Row]], val samples: Map[String, Long])

  private val Seed = 42L

  /** Spark's `xxhash64(uid)` of one string column, bit for bit. */
  private def xxhash64Of(s: String): Long =
    XXH64.hashUTF8String(UTF8String.fromString(s), Seed)

  /** (uid → dense long id) dictionary: xxhash64, embarrassingly
    * parallel; a collision (~n²/2⁶⁵) would silently merge two
    * functions, so the build CHECKS — if distinct(id) < count(uid) it
    * falls back to an exact zipWithIndex dictionary (one extra pass).
    * The uid column is selected BY NAME on both branches, so the
    * fallback survives `uids` growing extra columns. `hash` is
    * injectable only so the fallback branch is spec-exercised
    * (a real xxhash64 collision is not constructible in a test).
    * Input must be distinct on uid; the returned frame is cached. */
  private[graft] def uidDictionary(uids: DataFrame,
      hash: Column => Column = xxhash64(_)): DataFrame =
    countedUidDictionary(uids, hash)._1

  /** [[uidDictionary]] with the number of uids its check counted. */
  private def countedUidDictionary(uids: DataFrame,
      hash: Column => Column): (DataFrame, Long) = {
    val hashed = uids.select(col("uid")).withColumn("id", hash(col("uid"))).cache()
    val counts = hashed
      .agg(count(lit(1)).as("n"), countDistinct("id").as("nid")).head()
    val n = counts.getLong(0)
    if (n == counts.getLong(1)) (hashed, n)
    else {
      hashed.unpersist()
      uids.sparkSession.createDataFrame(
        uids.select(col("uid")).rdd.zipWithIndex().map { case (r, i) =>
          Row(r.getAs[String]("uid"), i)
        },
        StructType(Seq(StructField("uid", StringType), StructField("id", LongType))))
        .cache() -> n
    }
  }
}
