package graft.ops

import org.apache.spark.sql.SparkSession

/** Driver-side reference for the IVF serving paths, written in plain
  * Scala so the specs can check every plan against an answer computed
  * outside Spark, bit for bit:
  *  - probe ranking: descending raw dot against the centroid matrix,
  *    ties to the lowest cell;
  *  - SQ8 shortlist (when `rerank` is given): the asymmetric int8 score
  *    over the stored codes, top k·rerank by (desc score, asc id);
  *  - exact cosine over the candidates of the probed cells, rounded to
  *    6 dp half-up, top k by (desc cos_sim, asc id).
  * Every dot product sums strictly left to right from 0.0 with floats
  * widened to double — the IEEE sequence of `vec_dot` and `int8_dot`.
  */
object IvfReference {

  /** One index row: id, vector, cell, and the SQ8 code and code norm
    * (null and 0 on an index built without quantization).
    */
  final case class Cand(
      id: Long, vec: Seq[Double], cell: Int, code: Array[Byte], cnorm: Double)

  def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < a.length) { acc += a(j) * b(j); j += 1 }
    acc
  }

  /** Descending score, then ascending id: the order of every ranking
    * here (for probes the id is the cell index).
    */
  private def ranksBefore(a: (Double, Long), b: (Double, Long)): Boolean =
    if (a._1 != b._1) a._1 > b._1 else a._2 < b._2

  def probes(q: Seq[Double], cents: Seq[Seq[Double]], nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) => (dot(q, c), i.toLong) }
      .sortWith(ranksBefore).take(nprobe).map(_._2.toInt)

  def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val d = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (d > 0) dot(a, b) / d else 0.0
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP over the shortest
    * decimal rendering.
    */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def int8Dot(code: Array[Byte], q: Seq[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < math.min(code.length, q.length)) {
      acc += q(j) * code(j).toDouble; j += 1
    }
    acc
  }

  def rows(spark: SparkSession, index: SimilarityOps.IvfIndex): Seq[Cand] =
    SimilarityOps.readCells(spark, index).collect().toSeq.map { r =>
      Cand(r.getAs[Long](index.idCol),
        r.getAs[scala.collection.Seq[Float]](index.vecCol).map(_.toDouble).toSeq,
        r.getAs[Int]("cell"),
        if (index.quantized) r.getAs[Array[Byte]]("code8") else null,
        if (index.quantized) r.getAs[Double]("cnorm8") else 0.0)
    }

  /** (id, cos_sim, rank) of one query, sorted by rank. */
  def topK(
      rows: Seq[Cand], cents: Seq[Seq[Double]], q: Seq[Double], k: Int,
      nprobe: Int, rerank: Option[Int] = None): Seq[(Long, Double, Int)] = {
    val probed = probes(q, cents, nprobe).toSet
    val cands = rows.filter(r => probed(r.cell))
    val qnorm = math.sqrt(dot(q, q))
    def approx(c: Cand): Double =
      if (c.cnorm > 0 && qnorm > 0) int8Dot(c.code, q) / (qnorm * c.cnorm)
      else 0.0
    val shortlist = rerank.fold(cands) { r =>
      cands.map(c => ((approx(c), c.id), c))
        .sortWith((a, b) => ranksBefore(a._1, b._1)).take(k * r).map(_._2)
    }
    shortlist.map(c => (round6(cosine(c.vec, q)), c.id))
      .sortWith(ranksBefore).take(k)
      .zipWithIndex.map { case ((s, id), i) => (id, s, i + 1) }
  }
}
