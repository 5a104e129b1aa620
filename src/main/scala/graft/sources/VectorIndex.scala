package graft.sources

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import graft.Embedder
import graft.plans.CosineSim
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericRowWithSchema, Nondeterministic}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CheckpointOps
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The session-resident index behind [[ChunkStore.similaritySearch]].
  *
  * A store is loaded once per (SparkContext, store path, store
  * fingerprint) into an RDD of per-partition column blocks, fenced
  * through [[CheckpointOps.fence]]: the first question's job scans the
  * parquet store and keeps the blocks, later questions read only the
  * blocks. Each question is then one `mapPartitions` job that keeps an
  * exact top-k per partition; the driver merges the partial lists.
  *
  * The answers are those of the Catalyst formulation this replaces
  * (`crossJoin(broadcast(q))`, `cosine_f(embedding, q_emb)`,
  * `orderBy(desc("similarity"), col("id")).limit(k)`), bit for bit:
  *  - the query vector is the embedder's own expression, resolved once
  *    per (session, embedder) and evaluated on the driver by the
  *    interpreted path constant folding took for `lit(query)`;
  *  - scores are [[CosineSim.fold]], the `cosine_f` loop;
  *  - order is Spark's: similarity DESC with NaN above every number
  *    and nulls last, then id ASC as UTF-8 bytes with nulls first.
  *
  * Lifetime: the fingerprint is the store's data files (names, sizes,
  * modification times), listed on every question. A rewritten store
  * (reset, re-add) gets a new index on its next question and the
  * superseded fence is released at once; a stopped context's indexes
  * are dropped, never reused. Questions still running on a superseded
  * index may fail, as a scan of deleted files would.
  */
private[graft] object VectorIndex {

  /** One partition of the store, column by column. */
  final case class Block(ids: Array[UTF8String], texts: Array[String],
                         metadata: Array[Map[String, String]], embeddings: Array[Array[Double]])

  /** One scored row; `simNull` marks a null similarity. The score
    * travels as its raw bits: Java serialization of a double field
    * canonicalizes NaN, and the cosine of a zero vector is x86's
    * sign-set NaN, which the Catalyst formulation returns as is.
    */
  final case class Hit(simBits: Long, simNull: Boolean, id: UTF8String, text: String,
                       metadata: Map[String, String]) {
    def sim: Double = java.lang.Double.longBitsToDouble(simBits)
  }

  /** The ≤ k best rows in rank order, with the result schema
    * (id, text, metadata, similarity).
    */
  final case class Result(schema: StructType, rows: Seq[Row])

  def search(spark: SparkSession, storePath: String, query: String, topK: Int,
             embedder: Embedder): Result = {
    require(topK >= 0, s"topK must be non-negative, got $topK")
    val idx = index(spark, storePath)
    val hits =
      if (topK == 0) Nil
      else {
        val q = queryEmbedding(spark, embedder)(query)
        idx.blocks.mapPartitions(_.flatMap(topKOf(_, q, topK))).collect()
          .sortWith((a, b) => precedes(a.sim, a.simNull, a.id, b)).take(topK).toSeq
      }
    Result(idx.schema, hits.map { h =>
      new GenericRowWithSchema(Array(Option(h.id).map(_.toString).orNull, h.text, h.metadata,
        if (h.simNull) null else h.sim), idx.schema): Row
    })
  }

  // ------------------------------------------------------------ ranking

  /** Does a row scored (sim, simNull, id) rank before `h`? */
  private def precedes(sim: Double, simNull: Boolean, id: UTF8String, h: Hit): Boolean = {
    val bySim =
      if (simNull || h.simNull) java.lang.Boolean.compare(simNull, h.simNull)
      else SQLOrderingUtil.compareDoubles(h.sim, sim)
    if (bySim != 0) bySim < 0
    else if (id == null || h.id == null) id == null && h.id != null
    else id.binaryCompare(h.id) < 0
  }

  /** Exact top-k of one block: a k-slot insertion list, so a row that
    * cannot enter costs one comparison and no allocation.
    */
  private def topKOf(b: Block, q: Array[Double], k: Int): Iterator[Hit] = {
    val top = new Array[Hit](k)
    var size = 0
    var i = 0
    while (i < b.ids.length) {
      val e = b.embeddings(i)
      val simNull = e == null || q == null
      val sim = if (simNull) 0.0 else CosineSim.fold(e, q)
      val id = b.ids(i)
      if (size < k || precedes(sim, simNull, id, top(k - 1))) {
        var j = math.min(size, k - 1)
        while (j > 0 && precedes(sim, simNull, id, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = Hit(java.lang.Double.doubleToRawLongBits(sim), simNull, id, b.texts(i), b.metadata(i))
        size = math.min(size + 1, k)
      }
      i += 1
    }
    top.iterator.take(size)
  }

  // ------------------------------------------------------------ query side

  /** An embedder's expression bound to a one-string input row. */
  private final class QueryEmbedding(expr: Expression, vector: DataType) {
    def apply(query: String): Array[Double] = {
      // one instance per session: interpreted regexp_replace keeps
      // per-instance scratch state, so concurrent questions take turns
      val v = synchronized(expr.eval(InternalRow(UTF8String.fromString(query))))
      if (v == null) null else toDoubles(v.asInstanceOf[ArrayData], vector)
    }
  }

  private val resolved = TrieMap.empty[(SparkSession, Embedder), QueryEmbedding]

  private def queryEmbedding(spark: SparkSession, embedder: Embedder): QueryEmbedding =
    resolved.getOrElse((spark, embedder), {
      resolved.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      graft.plans.VectorExprs.register(spark) // the default embedder calls embed64
      val probe = spark.createDataFrame(java.util.List.of[Row](),
        StructType(Seq(StructField("q", StringType)))).select(embedder.embed(col("q")))
      val emb = ReplaceExpressions(probe.queryExecution.analyzed) match {
        case Project(Seq(out), child) =>
          val e = BindReferences.bindReference(
            out match { case a: Alias => a.child; case other => other }, child.output)
          e.foreach { case n: Nondeterministic => n.initialize(0); case _ => () }
          new QueryEmbedding(e, e.dataType)
        case other => throw new IllegalStateException(s"unexpected embedder plan:\n$other")
      }
      resolved.getOrElseUpdate((spark, embedder), emb)
    })

  /** Vector elements as `cosine_f` reads them (a null element reads 0). */
  private def toDoubles(a: ArrayData, t: DataType): Array[Double] = t match {
    case ArrayType(FloatType, _) => Array.tabulate(a.numElements())(a.getFloat(_).toDouble)
    case _ => Array.tabulate(a.numElements())(a.getDouble)
  }

  // ------------------------------------------------------------ store side

  private final case class Index(blocks: RDD[Block], schema: StructType)

  private def load(spark: SparkSession, path: String): Index = {
    val store = spark.read.parquet(path).select("id", "text", "metadata", "embedding")
    val blocks = store.rdd.mapPartitions { it =>
      val rows = it.toArray
      Iterator.single(Block(
        rows.map(r => if (r.isNullAt(0)) null else UTF8String.fromString(r.getString(0))),
        rows.map(_.getString(1)),
        rows.map(_.getAs[Map[String, String]](2)),
        rows.map(r => if (r.isNullAt(3)) null else r.getSeq[Any](3).iterator.map {
          case null => 0.0
          case x => x.asInstanceOf[Number].doubleValue
        }.toArray)))
    }
    Index(CheckpointOps.fence(spark, blocks),
      StructType(store.schema.fields.take(3) :+ StructField("similarity", DoubleType)))
  }

  /** One store's index in one context, loaded by its first caller. */
  private final class Slot(spark: SparkSession, path: String, val fingerprint: Seq[(String, Long, Long)]) {
    private var index: Index = _
    private var retired = false

    /** Concurrent first callers wait for one load; None once superseded. */
    def get: Option[Index] = synchronized {
      if (!retired && index == null) index = load(spark, path)
      if (retired) None else Some(index)
    }

    def retire(): Unit = synchronized {
      retired = true
      if (index != null) CheckpointOps.release(index.blocks)
    }
  }

  private val slots = mutable.HashMap.empty[(SparkContext, String), Slot]

  @annotation.tailrec
  private def index(spark: SparkSession, path: String): Index = {
    val (key, fp) = fingerprint(spark, path)
    val (slot, superseded) = slots.synchronized {
      slots.filterInPlace { case ((sc, _), _) => !sc.isStopped }
      slots.get((spark.sparkContext, key)) match {
        case Some(s) if s.fingerprint == fp => (s, None)
        case old =>
          val s = new Slot(spark, path, fp)
          slots((spark.sparkContext, key)) = s
          (s, old)
      }
    }
    superseded.foreach(_.retire())
    slot.get match {
      case Some(i) => i
      case None => index(spark, path) // superseded while waiting for its load
    }
  }

  /** The store's qualified path and its data files (path below the
    * store, size, modification time); hidden `_`/`.` entries are
    * skipped as the parquet reader skips them. `listStatus`, not
    * `listFiles`: located statuses read each local file's permissions
    * through a forked `ls`, about 3 ms a file. A missing store lists
    * nothing, and its load fails as `spark.read.parquet` does.
    */
  private def fingerprint(spark: SparkSession, path: String): (String, Seq[(String, Long, Long)]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    def files(dir: Path, rel: String): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .flatMap { st =>
          val name = s"$rel/${st.getPath.getName}"
          if (st.isDirectory) files(st.getPath, name)
          else Seq((name, st.getLen, st.getModificationTime))
        }
    (root.toString, if (fs.exists(root)) files(root, "").sorted else Nil)
  }
}
