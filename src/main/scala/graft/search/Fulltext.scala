package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.functions.TextOps

/** A persisted distributed inverted index: `postings` is the
  * (doc_id, token, tf) table — term-partitionable, incrementally
  * maintainable — and `meta` a 1-row (n) frame with the corpus size
  * (the idf denominator rides along as a broadcast, never a driver
  * constant, so the index composes into one lazy plan).
  */
case class FulltextIndex(postings: DataFrame, meta: DataFrame)

/** Distributed fulltext search (SURVEY.md §2 B11) — the Spark-first
  * replacement for the reference's Lucene fulltext index
  * (importer.rs:378-429, schema.rs `string_value_fulltext`).
  *
  * The inverted index is itself a DataFrame (term → doc postings
  * with tf); scoring is tf-idf (the BM25 shape without length
  * normalization, so the oracle can replay it exactly). Every query
  * mode builds/filters the postings exactly ONCE: document frequency
  * is derived from the term-filtered postings (df of a term = its
  * row count there), so no second corpus pass and no full-vocabulary
  * broadcast ever happens.
  */
object Fulltext {

  /** Postings with term frequency: (doc_id, token, tf). */
  def postings(docs: DataFrame): DataFrame =
    TextOps.tokensBag(docs)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))

  /** One-shot in-memory index over a document set. */
  def buildIndex(docs: DataFrame): FulltextIndex =
    FulltextIndex(postings(docs), docs.agg(count(lit(1)).as("n")))

  /** Persist the index token-clustered: repartition by token so each
    * parquet file covers a token range (min/max row-group stats make
    * a term lookup skip non-matching files), sorted for locality. */
  def saveIndex(index: FulltextIndex, dir: String): Unit = {
    index.postings
      .repartition(col("token"))
      .sortWithinPartitions("token", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
    index.meta.write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadIndex(spark: SparkSession, dir: String): FulltextIndex =
    FulltextIndex(spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/meta"))

  /** Incremental maintenance: fold new or UPDATED documents into an
    * existing index without re-tokenizing the old corpus. Re-imported
    * doc ids get last-write-wins semantics (matching
    * GraphStore.merge): their stale postings are anti-joined away
    * before the union, and the corpus size is corrected by a lazy
    * negative overlap count — the whole merge stays one composable
    * plan, no driver action. searchIndex(merge(i, d)) ≡
    * searchIndex(buildIndex(old-minus-overlap ∪ d)) — spec-checked
    * for both append and update. Duplicate doc_id rows INSIDE one
    * merge batch are collapsed first (deterministically: max text
    * wins) so they neither inflate the corpus count nor duplicate
    * postings rows; the meta delta counts DISTINCT new doc ids. (A
    * re-imported doc that had NO tokens is invisible to the
    * postings-derived overlap count and would double-count in n —
    * tokenless docs don't score, so idf is off by at most that rare
    * count.) */
  def mergeIndex(index: FulltextIndex, newDocs: DataFrame): FulltextIndex = {
    val dedup = newDocs.groupBy("doc_id").agg(max(col("text")).as("text"))
    val newIds = dedup.select(col("doc_id"))
    val kept = index.postings.join(newIds, Seq("doc_id"), "left_anti")
    val overlapNeg = index.postings.select("doc_id").distinct()
      .join(newIds, Seq("doc_id"), "left_semi")
      .agg((-count(lit(1))).as("n"))
    FulltextIndex(
      kept.unionByName(postings(dedup)),
      index.meta.unionByName(dedup.agg(count(lit(1)).as("n")))
        .unionByName(overlapNeg)
        .agg(sum(col("n")).cast("long").as("n")))
  }

  /** A posting's tf-idf weight in a corpus of `n` docs, `df` of which
    * hold its token. */
  private def weight(tf: Column, df: Column, n: Column): Column =
    tf * log((n + 1.0) / (df + 1.0))

  /** A doc's score from the sum of its postings' weights. */
  private def scoreOf(weightSum: Column): Column = round(weightSum, 4)

  /** Shared scoring tail: score(doc) = Σ tf·ln((N+1)/(df+1)) over the
    * postings rows passing `tokenPred`; n_terms = matched distinct
    * tokens. The predicate lands on the postings scan (pushed to
    * parquet for a loaded index); df comes from the *filtered*
    * postings — identical values, one pass. */
  private def scored(index: FulltextIndex, tokenPred: Column, limit: Int): DataFrame = {
    val matched = index.postings.filter(tokenPred)
    val df = matched.groupBy("token").agg(count(lit(1)).as("df"))
    matched.join(broadcast(df), "token")
      .crossJoin(broadcast(index.meta))
      .groupBy("doc_id")
      .agg(
        scoreOf(sum(weight(col("tf"), col("df"), col("n")))).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  /** Exact-term keyword search over a prebuilt index. */
  def searchIndex(index: FulltextIndex, terms: Seq[String], limit: Int = 20): DataFrame =
    scored(index, col("token").isInCollection(terms), limit)

  /** BM25-scored keyword search — the length-normalized scoring the
    * reference actually returns (its Lucene `score` is BM25,
    * importer.rs:386-398), where [[searchIndex]]'s tf-idf is the
    * shape WITHOUT the dl/avgdl penalty: on length-skewed corpora the
    * two can rank-diverge (a verbose doc repeating a term outranks a
    * short exact hit under tf-idf but not BM25 — spec'd).
    *
    *   score(d) = Σ_t ln(1 + (N−df+0.5)/(df+0.5))
    *              · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Doc lengths are one postings-sized aggregation (dl = Σ tf per
    * doc) that also collects each doc's matched (term, tf) pairs;
    * avgdl = Σdl/N a broadcast 1-row frame — never the corpus to the
    * driver. Per-(doc,term) contributions are quantized to
    * 1e-6 BEFORE the per-doc sum, so the score is an exact long sum —
    * order-independent across engines, one class stronger than
    * round-after-float-sum (the contribution doubles themselves are
    * identical on both engines: every input is an exact integer and
    * the expression tree is replayed verbatim by the oracle). */
  def bm25SearchIndex(index: FulltextIndex, terms: Seq[String], limit: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // each doc's length and matched terms from one aggregation, not a
    // join of two shuffled inputs (see GraftSession)
    val perDoc = index.postings.groupBy("doc_id").agg(
      sum(col("tf")).as("dl"),
      collect_list(when(col("token").isInCollection(terms),
        struct(col("token"), col("tf")))).as("hits"))
    val totals = perDoc.agg(sum(col("dl")).cast("long").as("total_dl"))
    val df = index.postings.filter(col("token").isInCollection(terms))
      .groupBy("token").agg(count(lit(1)).as("df"))
    perDoc.select(col("doc_id"), col("dl"), explode(col("hits")).as("h"))
      .select(col("doc_id"), col("dl"), col("h.token").as("token"), col("h.tf").as("tf"))
      .join(broadcast(df), "token")
      .crossJoin(broadcast(index.meta))
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w", col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * (col("dl") / (col("total_dl") / col("n"))))))
      .withColumn("cq", floor(col("idf") * col("w") * lit(1000000.0) + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg((floor(sum(col("cq")) / 100.0 + 0.5) / 10000.0).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  def bm25Search(docs: DataFrame, terms: Seq[String], limit: Int = 20): DataFrame =
    bm25SearchIndex(buildIndex(docs), terms, limit)

  /** Exact-term keyword search (builds the index inline, one pass). */
  def search(docs: DataFrame, terms: Seq[String], limit: Int = 20): DataFrame =
    searchIndex(buildIndex(docs), terms, limit)

  /** Prefix (wildcard) search `pref*` — the reference's auto-wildcard
    * Lucene mode (README "fulltext with auto wildcard"). */
  def prefixSearchIndex(index: FulltextIndex, prefix: String, limit: Int = 20): DataFrame =
    scored(index, col("token").startsWith(prefix), limit)

  def prefixSearch(docs: DataFrame, prefix: String, limit: Int = 20): DataFrame =
    prefixSearchIndex(buildIndex(docs), prefix, limit)

  /** The reference's DEFAULT string-query mode
    * (query.rs:113-135 `default_string_fulltext_query`): every
    * whitespace-separated term is wrapped `*term*` and the terms are
    * AND-joined — a document matches when, for EVERY query term, some
    * token contains it as a substring. Scoring is tf-idf over all
    * postings rows matching any term; n_terms counts the distinct
    * query terms the doc covers (= terms.size after the AND filter).
    *
    * Scale note: a contains-predicate cannot prune a token-range
    * index, so this mode scans the postings table (still one narrow
    * pass over (token, df)-sized data, not the corpus text); at scale
    * use [[containsSearchNgramIndex]], which prunes candidate tokens
    * through the [[ngramVocab]] character-n-gram index first.
    */
  def containsSearchIndex(index: FulltextIndex, terms: Seq[String],
      limit: Int = 20): DataFrame = {
    val lower = containsTerms(terms)
    val matched = index.postings.filter(
      lower.map(t => col("token").contains(t)).reduce(_ || _))
    val df = matched.groupBy("token").agg(count(lit(1)).as("df"))
    matched.join(broadcast(df), "token")
      .crossJoin(broadcast(index.meta))
      .withColumn("hits", array(lower.zipWithIndex.map { case (t, i) =>
        when(col("token").contains(t), lit(i)).otherwise(lit(null))
      }: _*))
      .groupBy("doc_id")
      .agg(
        scoreOf(sum(weight(col("tf"), col("df"), col("n")))).as("score"),
        size(array_distinct(flatten(collect_list(filter(col("hits"), _.isNotNull)))))
          .as("n_terms"))
      .filter(col("n_terms") === lower.size)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  def containsSearch(docs: DataFrame, terms: Seq[String], limit: Int = 20): DataFrame =
    containsSearchIndex(buildIndex(docs), terms, limit)

  /** The contains mode's terms, lowercased; at least one is required. */
  private def containsTerms(terms: Seq[String]): Seq[String] = {
    require(terms.nonEmpty, "contains search needs at least one term")
    terms.map(_.toLowerCase)
  }

  /** A corpus small enough to hold on the driver, indexed there:
    * [[LocalIndex.search]] and [[LocalIndex.containsSearch]] answer as
    * [[search]] and [[containsSearch]] over the same docs do, with no
    * Spark job. The tokens and the scores are the distributed path's
    * own Column expressions ([[TextOps.tokenSplit]], `weight`,
    * `scoreOf`), which the optimizer evaluates over local relations. */
  final class LocalIndex private (spark: SparkSession,
      tf: Map[String, Map[String, Long]], n: Long) {

    /** (doc_id, score) of the top `limit` docs holding any term. */
    def search(terms: Seq[String], limit: Int = 20): Seq[(String, Double)] =
      ranked(terms.toSet, Nil, limit)

    /** (doc_id, score) of the top `limit` docs in which every term is
      * a substring of some token (`*term*`, terms AND-joined). */
    def containsSearch(terms: Seq[String], limit: Int = 20): Seq[(String, Double)] = {
      val lower = containsTerms(terms)
      ranked(t => lower.exists(t.contains), lower, limit)
    }

    /** Docs scored over their postings whose token `matches` (df
      * counted over those postings), kept when each of `required` is
      * in one of their matched tokens, in (score desc, doc_id) order. */
    private def ranked(matches: String => Boolean, required: Seq[String],
        limit: Int): Seq[(String, Double)] = {
      val hits = tf.iterator.map { case (d, ts) => d -> ts.filter(t => matches(t._1)) }
        .filter(_._2.nonEmpty).toSeq
      val df = hits.flatMap(_._2.keys).groupMapReduce(identity)(_ => 1L)(_ + _)
      val kept = hits.filter { case (_, ts) => required.forall(r => ts.keys.exists(_.contains(r))) }
      val posting = StructType(Seq(StructField("tf", LongType), StructField("df", LongType)))
      val rows = kept.map { case (d, ts) =>
        Row(d, ts.toSeq.map { case (t, f) => Row(f, df(t)) }, n)
      }
      spark.createDataFrame(rows.asJava, StructType(Seq(StructField("doc_id", StringType),
          StructField("postings", ArrayType(posting)), StructField("n", LongType))))
        .select(col("doc_id"), scoreOf(aggregate(col("postings"), lit(0.0),
          (acc, p) => acc + weight(p("tf"), p("df"), col("n")))))
        .collect().toSeq
        .map(r => r.getString(0) -> r.getDouble(1))
        .sortBy(h => (-h._2, h._1))(Ordering.Tuple2(Ordering.Double.TotalOrdering,
          TextOps.sparkOrder))
        .take(limit)
    }
  }

  object LocalIndex {
    /** The index of (doc_id, text) docs, tokenized by Spark's own
      * expressions over a local relation. */
    def apply(spark: SparkSession, docs: Seq[(String, String)]): LocalIndex = {
      val split = spark.createDataFrame(docs.map { case (d, t) => Row(d, t) }.asJava,
          StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType))))
        .select(col("doc_id"), TextOps.tokenSplit(col("text")))
        .collect()
      val tf = split.groupBy(_.getString(0)).map { case (d, rs) =>
        d -> rs.iterator.filterNot(_.isNullAt(1)).flatMap(_.getSeq[String](1))
          .filter(_.nonEmpty).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
      }
      new LocalIndex(spark, tf, docs.size.toLong)
    }
  }

  // ---- char-n-gram vocabulary pre-filter for contains mode --------------

  /** Character-n-gram index over the VOCABULARY (not the corpus):
    * (gram, token) rows, one per distinct 3-gram of each distinct
    * token. This is what makes `*term*` prunable at scale — the
    * vocabulary is orders of magnitude smaller than the postings, and
    * a term's candidate tokens are exactly the tokens containing every
    * one of its 3-grams (then verified contiguous with one contains).
    * Persist next to the postings and partition-prune by gram. */
  def ngramVocab(index: FulltextIndex, n: Int = 3): DataFrame =
    index.postings.select("token").distinct()
      .select(col("token"), explode(when(length(col("token")) >= n, expr(
        s"array_distinct(transform(sequence(0, length(token) - $n), i -> substring(token, i + 1, $n)))"))
        // tokens shorter than n ride along as their own degenerate gram
        // so the short-term fallback scan still sees the full vocabulary
        .otherwise(array(col("token"))))
        .as("gram"))

  /** Candidate tokens for one contains-term via the n-gram vocab:
    * tokens covering ALL the term's n-grams, contains-verified (the
    * gram test is necessary but not sufficient — grams can match
    * non-contiguously). Terms shorter than n fall back to a direct
    * vocabulary scan — still vocabulary-sized, not postings-sized. */
  private def candidateTokens(grams: DataFrame, term: String, n: Int): DataFrame = {
    if (term.length < n)
      grams.select("token").distinct().filter(col("token").contains(term))
    else {
      val tg = term.sliding(n).toSeq.distinct
      grams.filter(col("gram").isInCollection(tg))
        .groupBy("token").agg(count(lit(1)).as("g"))
        .filter(col("g") === tg.size && col("token").contains(term))
        .select("token")
    }
  }

  /** [[containsSearchIndex]] through the n-gram pre-filter: postings
    * are semi-joined to the (small, broadcast) candidate token set
    * before the contains scoring pass — identical output, but the scan
    * over the postings table becomes a pruned hash lookup instead of a
    * full contains sweep. */
  def containsSearchNgramIndex(index: FulltextIndex, grams: DataFrame,
      terms: Seq[String], limit: Int = 20, n: Int = 3): DataFrame = {
    require(terms.nonEmpty, "contains search needs at least one term")
    val cands = terms.map(t => candidateTokens(grams, t.toLowerCase, n))
      .reduce(_ unionByName _).distinct()
    val pruned = index.copy(
      postings = index.postings.join(broadcast(cands), Seq("token"), "left_semi"))
    containsSearchIndex(pruned, terms, limit)
  }

  def containsSearchNgram(docs: DataFrame, terms: Seq[String],
      limit: Int = 20): DataFrame = {
    val idx = buildIndex(docs)
    containsSearchNgramIndex(idx, ngramVocab(idx), terms, limit)
  }

  // ---- boolean ("raw Lucene") queries -----------------------------------

  /** Minimal boolean query AST: terms, `pref*` wildcards, AND/OR,
    * parentheses — the subset the reference documents for `--raw`
    * (README: `"ransom* AND (bitcoin OR wallet)"`). */
  sealed trait Q
  case class Term(t: String) extends Q
  case class Prefix(p: String) extends Q
  case class And(l: Q, r: Q) extends Q
  case class Or(l: Q, r: Q) extends Q

  /** Recursive-descent parser; bare adjacency = OR (Lucene default). */
  def parseQuery(s: String): Q = {
    val tokens = s.replace("(", " ( ").replace(")", " ) ")
      .trim.split("\\s+").filter(_.nonEmpty).toList
    def atom(ts: List[String]): (Q, List[String]) = ts match {
      case "(" :: rest =>
        val (q, rem) = or(rest)
        rem match {
          case ")" :: tail => (q, tail)
          case other => (q, other) // tolerate unbalanced close
        }
      case w :: rest if w.endsWith("*") =>
        (Prefix(w.dropRight(1).toLowerCase), rest)
      case w :: rest => (Term(w.toLowerCase), rest)
      case Nil => throw new IllegalArgumentException("empty query")
    }
    def and(ts: List[String]): (Q, List[String]) = {
      var (q, rem) = atom(ts)
      while (rem.headOption.contains("AND")) {
        val (r, rem2) = atom(rem.tail)
        q = And(q, r); rem = rem2
      }
      (q, rem)
    }
    def or(ts: List[String]): (Q, List[String]) = {
      var (q, rem) = and(ts)
      while (rem.headOption.exists(t => t == "OR" ||
          (t != ")" && t != "AND"))) {
        val next = if (rem.head == "OR") rem.tail else rem
        val (r, rem2) = and(next)
        q = Or(q, r); rem = rem2
      }
      (q, rem)
    }
    or(tokens)._1
  }

  private def atoms(q: Q): Seq[Q] = q match {
    case And(l, r) => atoms(l) ++ atoms(r)
    case Or(l, r) => atoms(l) ++ atoms(r)
    case leaf => Seq(leaf)
  }

  /** Boolean fulltext search (reference `query strings --raw`):
    * documents satisfying the boolean expression, scored by tf-idf
    * over every matched atom. One postings pass filtered to the
    * query's atoms, matched-atom sets folded per doc, the boolean
    * tree evaluated as a Column expression.
    */
  def booleanSearchIndex(index: FulltextIndex, query: String,
      limit: Int = 20): DataFrame = {
    val q = parseQuery(query)
    val leafList = atoms(q).distinct
    val atomId = leafList.zipWithIndex.toMap
    def atomPred(a: Q) = a match {
      case Term(t) => col("token") === t
      case Prefix(p) => col("token").startsWith(p)
      case _ => lit(false)
    }
    val matched = index.postings
      .filter(leafList.map(atomPred).reduce(_ || _))
    val df = matched.groupBy("token").agg(count(lit(1)).as("df"))
    val matchedPost = matched.join(broadcast(df), "token")
      .withColumn("atom_ids", array(leafList.map(a =>
        when(atomPred(a), atomId(a)).otherwise(lit(null))): _*))
    val perDoc = matchedPost
      .crossJoin(broadcast(index.meta))
      .groupBy("doc_id")
      .agg(
        scoreOf(sum(weight(col("tf"), col("df"), col("n")))).as("score"),
        array_distinct(flatten(collect_list(filter(col("atom_ids"), _.isNotNull))))
          .as("matched"))
    def sat(x: Q): Column = x match {
      case And(l, r) => sat(l) && sat(r)
      case Or(l, r) => sat(l) || sat(r)
      case leaf => array_contains(col("matched"), atomId(leaf))
    }
    perDoc.filter(sat(q))
      .select(col("doc_id"), col("score"), size(col("matched")).as("n_atoms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  def booleanSearch(docs: DataFrame, query: String, limit: Int = 20): DataFrame =
    booleanSearchIndex(buildIndex(docs), query, limit)

  /** Positional phrase search (the Lucene PhraseQuery analog): docs
    * containing the exact token sequence, with occurrence counts. An
    * n-word phrase is n−1 equality joins on (doc, seq+i) — the classic
    * positional-postings intersection; the token filter prunes the
    * postings to the phrase's words BEFORE any join, and that pruned
    * frame is checkpointed so one tokenize pass feeds every join
    * (phrase-word postings are a vanishing fraction of the corpus).
    * Tokenizer contract shared with the index ([[TextOps.tokens]]).
    */
  def phraseSearch(docs: DataFrame, phrase: String): DataFrame = {
    val words = phrase.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    require(words.nonEmpty, "phraseSearch needs at least one token")
    val toks = TextOps.tokens(docs)
      .filter(col("token").isin(words: _*))
      .localCheckpoint(true)
    val first = toks.filter(col("token") === words.head)
      .select(col("doc_id"), col("seq").as("s0"))
    val matches = words.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (w, i)) =>
        acc.join(toks.filter(col("token") === w)
            .select(col("doc_id").as(s"d$i"), col("seq").as(s"s$i")),
          col("doc_id") === col(s"d$i") && col(s"s$i") === col("s0") + i)
          .select(col("doc_id"), col("s0"))
    }
    matches.groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")
  }
}
