package perfbench

import graft.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, Projection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rows per second of graft's custom expressions over a fixed batch of
  * document rows, outside Spark scheduling: once through a generated
  * projection and once by interpreted evaluation. Parameters are the
  * ones the declared queries use (q85 LSH k=8/bands=4, q110 winnowing
  * n=3/w=4, 3-gram shingles and n-grams). */
object ExprBench {

  private val text = BoundReference(0, StringType, nullable = true)

  def cases: Seq[(String, Expression)] = Seq(
    "ShingleIds" -> ShingleIds(text, 3),
    "MinHashBands" -> MinHashBands(text, 8, 4),
    "BpeTokenCount" -> BpeTokenCount(text),
    "SortedIntersectSize" -> SortedIntersectSize(
      BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = false), nullable = true)),
    "SimHash60" -> SimHash60(text),
    "WinnowIds" -> WinnowIds(text, 3, 4),
    "WordNgrams" -> WordNgrams(text, 3, distinct = true),
    "CharCounts" -> CharCounts(text))

  /** Input rows per case: text rows, or pairs of sorted token-id arrays
    * (consecutive documents) for the binary intersect. */
  private def inputs(texts: IndexedSeq[String]): (IndexedSeq[InternalRow], IndexedSeq[InternalRow]) = {
    val textRows: IndexedSeq[InternalRow] =
      texts.map(t => new GenericInternalRow(Array[Any](UTF8String.fromString(t))))
    val ids = ShingleIds(text, 1)
    val arrays = textRows.map(r => ids.eval(r).asInstanceOf[ArrayData].copy())
    val pairs: IndexedSeq[InternalRow] = arrays.indices.map { i =>
      new GenericInternalRow(Array[Any](arrays(i), arrays((i + 1) % arrays.size)))
    }
    (textRows, pairs)
  }

  private def rate(p: Projection, rows: IndexedSeq[InternalRow],
                   rounds: Int): Double = {
    rows.foreach(p(_)) // warm-up round
    val perRound = (1 to rounds).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.size) { p(rows(i)); i += 1 }
      rows.size / ((System.nanoTime() - t0) / 1e9)
    }.sorted
    perRound(perRound.size / 2)
  }

  /** `expressions.<Name>.{codegen,interp}_rows_per_s` for every case. */
  def run(texts: IndexedSeq[String], rounds: Int = 5): Seq[(String, Double)] = {
    val (textRows, pairs) = inputs(texts)
    cases.flatMap { case (name, e) =>
      val rows = if (name == "SortedIntersectSize") pairs else textRows
      val gen = GenerateUnsafeProjection.generate(Seq(e))
      val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
      Seq(s"expressions.$name.codegen_rows_per_s" -> rate(gen, rows, rounds),
        s"expressions.$name.interp_rows_per_s" -> rate(interp, rows, rounds))
    }
  }
}
