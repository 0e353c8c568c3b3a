package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL surface for graft's custom expressions:
  * {{{
  *   spark.sql.extensions = graft.functions.GraftExtensions
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  * }}}
  * Keeps the custom-operator work inside Catalyst (codegen, null semantics,
  * constant folding) instead of a UDF boundary. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer-integrated index access: covering filters over routed
    // parquet sources are served from the persisted btree/bitmap indexes
    // (no-op until IndexRoute.register declares a route)
    ext.injectOptimizerRule(session =>
      graft.plans.IndexedScanRewrite(session))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two float vectors"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "graft_cosine takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "graft_jaccard",
        "graft_jaccard(a, b) - Jaccard similarity of two string arrays (as sets)"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "graft_jaccard takes exactly 2 arguments")
        JaccardSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bounded_lev"),
      new ExpressionInfo(classOf[BoundedLevenshtein].getName, "graft_bounded_lev",
        "graft_bounded_lev(a, b, k) - Levenshtein distance if <= k, else k+1 " +
          "(banded DP, early exit)"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "graft_bounded_lev takes exactly 3 arguments")
        BoundedLevenshtein(children.head, children(1), children(2))
      }))
    // Column-composition operators surfaced to SQL as raw Catalyst trees
    // built from the SAME built-in expression classes the Column forms
    // compose (a Column can't round-trip through a function builder — the
    // bridge yields unevaluable ColumnNode wrappers there) — so the SQL
    // surface stays 100% codegen'd built-ins.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
    def L(v: Any): Expression = Literal(v)
    ext.injectFunction((
      new FunctionIdentifier("graft_redact_pii"),
      new ExpressionInfo(graft.ops.Curation.getClass.getName, "graft_redact_pii",
        "graft_redact_pii(text) - replace emails/IPv4s/phone numbers with typed tokens"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_redact_pii takes exactly 1 argument")
        import graft.ops.Curation._
        RegExpReplace(
          RegExpReplace(
            RegExpReplace(children.head, L(EmailPattern), L("<EMAIL>")),
            L(Ipv4Pattern), L("<IP>")),
          L(PhonePattern), L("<PHONE>"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_split"),
      new ExpressionInfo(graft.ops.Curation.getClass.getName, "graft_split",
        "graft_split(id) - deterministic train/val/test assignment (98/1/1) by hashed id"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_split takes exactly 1 argument")
        val hashed = Md5(Cast(Concat(Seq(
          L("split:"), Cast(children.head, StringType))), BinaryType))
        val bucket = Pmod(
          Cast(Conv(Substring(hashed, L(1), L(8)), L(16), L(10)), LongType),
          L(100L))
        CaseWhen(Seq(
          (LessThan(bucket, L(98L)), L("train")),
          (LessThan(bucket, L(99L)), L("val"))), L("test"))
      }))
    // ---- table-valued functions: the SQL surface for index SEARCH ----
    // Every persisted-index search was Scala-API-only; these TVFs expose
    // it to pure SQL the way the reference ecosystem surfaces search
    // through its query layer. The builder resolves LITERAL args at
    // analysis time and splices the SAME DataFrame plan the API twin
    // builds (bucket/partition-pruned index reads), so SQL and API
    // results are hash-identical by construction. The index may be named
    // by its catalog capability-pointer table OR its location path.
    locally {
      import org.apache.spark.sql.SparkSession
      import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number}
      import org.apache.spark.sql.types._

      def strArg(e: Expression, what: String): String = e match {
        case Literal(v, StringType) if v != null => v.toString
        case _ => throw new IllegalArgumentException(
          s"$what must be a string literal")
      }
      def intArg(e: Expression, what: String): Int = e match {
        case l: Literal if l.dataType == IntegerType && l.value != null =>
          l.value.asInstanceOf[Int]
        case _ => throw new IllegalArgumentException(
          s"$what must be an integer literal")
      }
      def resolveIdx(spark: SparkSession, idx: String): String =
        if (graft.ops.AnnIndex.readManifest(idx).isDefined) idx
        else graft.ops.AnnIndex.resolveIndexLocation(spark, idx)

      ext.injectTableFunction((
        new FunctionIdentifier("graft_bm25"),
        new ExpressionInfo(graft.ops.TextIndex.getClass.getName, "graft_bm25",
          "graft_bm25(index, query[, k]) - BM25 over a persisted inverted " +
            "index: (doc_id, score), or top-k (rank, doc_id, score)"),
        (children: Seq[Expression]) => {
          require(children.size == 2 || children.size == 3,
            "graft_bm25 takes (index, query[, k])")
          val spark = SparkSession.active
          val loc = resolveIdx(spark, strArg(children.head, "graft_bm25 index"))
          val terms = strArg(children(1), "graft_bm25 query")
            .toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
          val res = graft.ops.TextIndex.searchBm25(spark, loc, terms)
          val out =
            if (children.size < 3) res
            else {
              val k = intArg(children(2), "graft_bm25 k")
              res.withColumn("rank", row_number().over(
                  Window.orderBy(col("score").desc, col("doc_id"))))
                .filter(col("rank") <= k)
                .select(col("rank"), col("doc_id"), col("score"))
            }
          out.queryExecution.analyzed
        }))

      ext.injectTableFunction((
        new FunctionIdentifier("graft_ann_search"),
        new ExpressionInfo(graft.ops.AnnIndex.getClass.getName,
          "graft_ann_search",
          "graft_ann_search(index, qvec, k[, nprobe]) - top-k vector " +
            "search over a persisted ivf/ivf_pq/ivf_sq index: " +
            "(rank, vec_id, score)"),
        (children: Seq[Expression]) => {
          require(children.size == 3 || children.size == 4,
            "graft_ann_search takes (index, qvec, k[, nprobe])")
          val spark = SparkSession.active
          val loc = resolveIdx(spark,
            strArg(children.head, "graft_ann_search index"))
          val vecE = children(1)
          require(vecE.foldable,
            "graft_ann_search qvec must be a literal array")
          val qvec: Seq[Float] = (vecE.dataType, vecE.eval()) match {
            case (ArrayType(FloatType, _),
                a: org.apache.spark.sql.catalyst.util.ArrayData) =>
              a.toFloatArray().toSeq
            case (ArrayType(DoubleType, _),
                a: org.apache.spark.sql.catalyst.util.ArrayData) =>
              a.toDoubleArray().toSeq.map(_.toFloat)
            case _ => throw new IllegalArgumentException(
              "graft_ann_search qvec must be array<float> or array<double>")
          }
          val k = intArg(children(2), "graft_ann_search k")
          val nprobe =
            if (children.size == 4) intArg(children(3), "nprobe") else 2
          import spark.implicits._
          // qid = -1 can never collide with a corpus id, so the search's
          // self-exclusion (vec_id <> qid) keeps every corpus vector
          // eligible — an external query vector has no "self"
          val queries = Seq((-1L, qvec)).toDF("qid", "qvec")
          graft.ops.AnnIndex.search(spark, loc, queries, "qid", "qvec", k, nprobe)
            .select(col("rank"), col("vec_id"), col("score"))
            .queryExecution.analyzed
        }))

      ext.injectTableFunction((
        new FunctionIdentifier("graft_contains"),
        new ExpressionInfo(graft.ops.NgramIndex.getClass.getName,
          "graft_contains",
          "graft_contains(index, needle) - substring search via a " +
            "persisted ngram index: gram candidates + exact residual on " +
            "the manifest-recorded source. Returns (doc_id)"),
        (children: Seq[Expression]) => {
          require(children.size == 2,
            "graft_contains takes (index, needle)")
          val spark = SparkSession.active
          val loc = resolveIdx(spark,
            strArg(children.head, "graft_contains index"))
          val needle = strArg(children(1), "graft_contains needle")
          val man = graft.ops.AnnIndex.readManifest(loc).getOrElse(
            throw new IllegalStateException(s"no index at $loc"))
          require(man.indexType == "ngram",
            s"graft_contains: $loc holds a '${man.indexType}' index")
          // the residual needs the corpus — the manifest's SOURCE BINDING
          // (path + id/text columns, stamped at build) supplies it, so
          // the SQL user names only the index and the needle
          require(man.sourcePath.nonEmpty && man.sourceIdCol.nonEmpty &&
              man.sourceKeyCol.nonEmpty,
            s"graft_contains: the index at $loc predates source-binding " +
              "manifests — rebuild it")
          graft.ops.NgramIndex.searchContains(spark, loc,
              spark.read.parquet(man.sourcePath),
              man.sourceIdCol, man.sourceKeyCol, needle)
            .queryExecution.analyzed
        }))

      ext.injectTableFunction((
        new FunctionIdentifier("graft_phrase"),
        new ExpressionInfo(graft.ops.TextIndex.getClass.getName,
          "graft_phrase",
          "graft_phrase(index, phrase) - exact consecutive-token phrase " +
            "search over a positional inverted index: (doc_id, n_hits)"),
        (children: Seq[Expression]) => {
          require(children.size == 2,
            "graft_phrase takes (index, phrase)")
          val spark = SparkSession.active
          val loc = resolveIdx(spark,
            strArg(children.head, "graft_phrase index"))
          val terms = strArg(children(1), "graft_phrase phrase")
            .split("\\s+").toSeq.filter(_.nonEmpty)
          graft.ops.TextIndex.searchPhrase(spark, loc, terms)
            .queryExecution.analyzed
        }))

      ext.injectTableFunction((
        new FunctionIdentifier("graft_box"),
        new ExpressionInfo(graft.ops.ZorderIndex.getClass.getName,
          "graft_box",
          "graft_box(index, xlo, xhi, ylo, yhi) - conjunctive 2-D range " +
            "search over a persisted z-order index: (id, x, y)"),
        (children: Seq[Expression]) => {
          require(children.size == 5,
            "graft_box takes (index, xlo, xhi, ylo, yhi)")
          def numArg(e: Expression, what: String): Double = e match {
            // SQL fractional literals parse as DECIMAL — accept both
            case l: Literal if l.value != null => l.value match {
              case n: java.lang.Number => n.doubleValue()
              case d: org.apache.spark.sql.types.Decimal => d.toDouble
              case _ => throw new IllegalArgumentException(
                s"$what must be a numeric literal")
            }
            case _ => throw new IllegalArgumentException(
              s"$what must be a numeric literal")
          }
          val spark = SparkSession.active
          val loc = resolveIdx(spark,
            strArg(children.head, "graft_box index"))
          graft.ops.ZorderIndex.searchBox(spark, loc,
              numArg(children(1), "graft_box xlo"),
              numArg(children(2), "graft_box xhi"),
              numArg(children(3), "graft_box ylo"),
              numArg(children(4), "graft_box yhi"))
            .queryExecution.analyzed
        }))
    }

    ext.injectFunction((
      new FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(graft.ops.ZOrder.getClass.getName, "graft_zvalue",
        "graft_zvalue(x, y) - Morton z-value interleaving the low 16 bits of x and y"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_zvalue takes exactly 2 arguments")
        val x = Cast(children.head, LongType)
        val y = Cast(children(1), LongType)
        val terms = (0 until 16).flatMap { b =>
          Seq(
            ShiftLeft(BitwiseAnd(ShiftRight(x, L(b)), L(1L)), L(2 * b)),
            ShiftLeft(BitwiseAnd(ShiftRight(y, L(b)), L(1L)), L(2 * b + 1)))
        }
        terms.reduceLeft[Expression]((a, t) => Add(a, t))
      }))
  }
}
