package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.functions.PortableHash.P

/** MinHash signature + LSH banding candidate generation as a PUBLIC operator
  * over any document table — the candidate-pair front end that
  * [[ConnectedComponents]], [[CorpusCuration]], and the dedup/graph query
  * family all build on.
  *
  * Scale design: signatures are a linear map-side pass (explode + K affine
  * mins, 100% whole-stage codegen, partial aggregation shrinks the shuffle
  * to ~1 row/doc); the band self-join touches only (band, key) buckets —
  * tiny by construction — so the quadratic work happens within buckets,
  * never all-pairs. See `queries/DedupQueries` for the DuckDB-oracled
  * catalog entries and the SQL twins of these constants.
  */
object MinHashLSH {

  /** MinHash permutation constants: h_j(x) = (a_j * x + b_j) mod P, P=2^31-1.
    * a_j < 2^31 keeps products within BIGINT. Public because the DuckDB
    * oracle reconstructs the same permutations literal-for-literal. */
  val A: Seq[Long] = Seq(2971L, 10007L, 30011L, 65537L, 104729L, 999983L, 4999999L, 15485863L)
  val B: Seq[Long] = Seq(17L, 271L, 5021L, 80021L, 270001L, 1000033L, 7368787L, 104395301L)
  val K: Int = 8

  /** Word 3-gram shingles (distinct). Guarded for <3-word docs. */
  def shingles(ws: Column): Column =
    when(size(ws) >= 3,
      array_distinct(transform(sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** DuckDB twin of [[shingles]] over a `ws` list column. */
  val shinglesSql: String =
    """CASE WHEN LEN(ws) >= 3
      |  THEN LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws)-2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |  ELSE [] END""".stripMargin.replace("\n", " ")

  /** MinHash signatures via explode + K plain min() aggregates — the
    * PRODUCTION shape: instead of higher-order array lambdas (transform()/
    * aggregate() evaluate interpreted per element), the hash + K affine mins
    * fuse into the scan stage under whole-stage codegen, and partial
    * aggregation shrinks the shuffle to ~1 row/doc. Columns: doc_id,
    * mh0..mh{K-1}, sig (array). */
  def signatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sigAggs = (0 until K).map(j =>
      min((lit(A(j)) * col("h") + lit(B(j))) % P).as(s"mh$j"))
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .select(col("doc_id"), explode(shingles(col("ws"))).as("sh"))
      .select(col("doc_id"), (PortableHash.h48(col("sh")) % P).as("h"))
      .groupBy("doc_id")
      .agg(sigAggs.head, sigAggs.tail: _*)
      .withColumn("sig", array((0 until K).map(j => col(s"mh$j")): _*))
  }

  /** (signatures, banded candidate pairs) for a document table with `idCol`
    * and `textCol`. Signatures are PERSISTED (registered with `scope`): the
    * table is tiny (K longs per doc) and BOTH branches of the band self-join
    * read it — without the cache the full shingle+hash pipeline would be
    * recomputed per branch, so the persist pays even when the caller only
    * consumes pairs. Pairs carry (doc_a, doc_b, n_shared_bands) with
    * doc_a < doc_b. Cache lifetime: see [[CacheScope]] — pass your own scope
    * and release() it after materializing results. */
  def signaturesAndPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      scope: CacheScope = CacheScope.Unmanaged): (DataFrame, DataFrame) = {
    val sigs = scope.track(signatures(docs, idCol, textCol))
    val bands = sigs.select(col("doc_id"),
      explode(array((0 until K / 2).map(b =>
        struct(lit(b).as("b"),
          concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("k"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.k").as("k"))
    val pairs = bands.select(col("b"), col("k"), col("doc_id").as("doc_a"))
      .join(bands.select(col("b").as("b2"), col("k").as("k2"), col("doc_id").as("doc_b")),
        col("b") === col("b2") && col("k") === col("k2") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
    (sigs, pairs)
  }
}
