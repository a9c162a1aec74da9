package graft

import graft.functions.TextFunctions.tokens
import graft.ops.{Linkage, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pre-kernel HOF formulations of the engine's codegen kernels,
  * kept as the independent references the specs pin each kernel
  * bit-equal against. NOT for production paths: Catalyst does not CSE
  * into lambda scopes, and the literal-matrix forms grow the plan with
  * the parameter size. */
object KernelTwins {

  /** The ADC tables ([[graft.functions.AdcTables]]'s twin). */
  def adcTablesHof(v: Column,
      codebooks: Array[Array[Seq[Double]]], squared: Boolean): Column = {
    val m = codebooks.length
    val dim = codebooks.map(_.head.length).sum
    val sub = dim / m
    array((0 until m).map { j =>
      val cbLit = typedLit(codebooks(j).map(_.toIndexedSeq).toIndexedSeq)
      val subV = transform(slice(v, j * sub + 1, sub), _.cast("double"))
      transform(cbLit, c => aggregate(
        zip_with(subV, c,
          (x, y) => if (squared) (x - y) * (x - y) else x * y),
        lit(0.0), (a, x) => a + x))
    }: _*)
  }

  /** The coarse-cell ranking ([[graft.functions.CentroidTopK]]'s twin). */
  def coarseProbeCellsHof(v: Column, cents: Array[Seq[Double]],
      nprobe: Int): Column = {
    val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
    val bias = typedLit(
      Similarity.centroidBias(cents, cosine = false).toIndexedSeq)
    val vd = transform(v, _.cast("double"))
    val scored = zip_with(centsLit, sequence(lit(0), lit(cents.length - 1)),
      (c, j) => struct(
        (aggregate(zip_with(vd, c, (x, y) => x * y),
          lit(0.0), (a, x) => a + x) - element_at(bias, j + 1)).as("s"),
        j.as("j")))
    val sorted = array_sort(scored, (a, b) =>
      when(a("s") > b("s"), -1).when(a("s") < b("s"), 1)
        .otherwise(when(a("j") < b("j"), -1).otherwise(1)))
    transform(slice(sorted, 1, nprobe), s => s("j"))
  }

  /** The coarse residual ([[graft.functions.CoarseResidual]]'s twin). */
  def residualColHof(vec: Column, cellCol: Column,
      cents: Array[Seq[Double]]): Column = {
    val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
    zip_with(transform(vec, _.cast("double")),
      element_at(centsLit, cellCol + 1), (x, c) => x - c)
  }

  /** The k-means assignment — argmax over an array_max of (score, −j)
    * structs against a 2-D centroid literal
    * ([[graft.functions.CentroidArgmax]]'s twin). */
  def centroidArgmaxHof(v: Column,
      cents: Array[Seq[Double]], cosine: Boolean): Column = {
    val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
    val halfSq = typedLit(Similarity.centroidBias(cents, cosine).toIndexedSeq)
    val scored = zip_with(centsLit, sequence(lit(0), lit(cents.length - 1)),
      (c, j) => struct(
        (aggregate(zip_with(v, c, (x, y) => x * y),
          lit(0.0), (a, x) => a + x) -
          (if (cosine) lit(0.0) else element_at(halfSq, j + 1))).as("s"),
        (lit(0) - j).as("nj")))
    -array_max(scored).getField("nj")
  }

  /** [[graft.ops.Linkage.dirtySegKeys]]' ±τ-window key enumeration
    * ([[graft.functions.SegKeys]]'s twin). */
  def dirtySegKeysHof(d: DataFrame, tau: Int,
      bounds: Map[Int, Seq[Int]], keep: Seq[String] = Nil): DataFrame = {
    val nseg = tau + 1
    val (segStart, segLen) = Linkage.segGeometry(nseg, bounds)
    val emptyKeys = array().cast("array<struct<i:int,l:int,seg:string>>")
    val dKeyArrays = for (delta <- -tau to tau; i <- 0 until nseg) yield {
      val lenR = length(col("d_s"))
      val lenS = lenR + delta
      val li = segLen(lenS, i)
      val pi = segStart(lenS, i)
      val jlo0 = greatest(lit(1), pi - tau)
      val jlo = if (i == nseg - 1) greatest(jlo0, lenR - tau - li + 1) else jlo0
      val jhi = least(lenR - li + 1, pi + tau)
      when(lenS >= nseg && jlo <= jhi,
        transform(sequence(jlo, jhi), j =>
          struct(lit(i).as("i"), lenS.as("l"),
            col("d_s").substr(j, li).as("seg"))))
        .otherwise(emptyKeys)
    }
    d.select(col("d_id") +: col("d_s") +: keep.map(col) :+
      explode(array_distinct(flatten(array(dKeyArrays: _*)))).as("k"): _*)
  }

  /** Term counts ([[graft.functions.TermCounts]]'s twin): `element_at(srt,
    * i)` re-sorts and re-tokenizes the document per lambda element —
    * O(n²·log n) per row. */
  def termCountsHof(text: Column): Column = {
    val srt = array_sort(tokens(text))
    val n = size(srt)
    val bounds = filter(sequence(lit(1), n),
      i => (i === n) || element_at(srt, i) =!= element_at(srt, i + 1))
    val prevs = concat(array(lit(0)), slice(bounds, lit(1), size(bounds) - 1))
    when(n <= 0, array().cast("array<struct<term:string,cnt:int>>"))
      .otherwise(zip_with(bounds, prevs, (b, p) =>
        struct(element_at(srt, b).as("term"), (b - p).as("cnt"))))
  }
}
