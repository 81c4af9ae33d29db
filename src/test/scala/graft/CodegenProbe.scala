package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, StringType}
import graft.functions.{BitmapAndCount, BitmapCardinality, BpeEncodeExpr, CdcBoundaries, Q8Dot, Q8Encode, RollingHash}

/** Janino-compilability pin for the custom codegen expressions. Spark
  * hides a generated-code compile error behind a silent interpreted
  * fallback (CodeGeneratorWithInterpretedFallback), so a doGenCode bug
  * shows up only as a WARN and a slow plan — this spec calls the code
  * generator DIRECTLY, where a Janino error still throws. Round-6
  * finding: ArrayList<Integer>.get under Janino returns Object (no
  * generics, no auto-unboxing), which de-codegen'd q55's projection.
  */
class CodegenProbe extends AnyFunSuite {
  lazy val spark = GraftSession.builder("local[4]").getOrCreate()

  // the session first: the generated-code cache is JVM-wide and takes
  // its size from the session conf active when it is first used
  private def mustCompile(e: Expression): Unit = {
    assert(!spark.sparkContext.isStopped)
    GenerateUnsafeProjection.generate(Seq(org.apache.spark.sql.catalyst.expressions.Alias(e, "x")()))
  }

  test("CdcBoundaries doGenCode compiles under janino") {
    mustCompile(CdcBoundaries(BoundReference(0, StringType, nullable = true), 16, 257L, 1000003L, 64L))
  }

  test("RollingHash doGenCode compiles under janino") {
    mustCompile(RollingHash(BoundReference(0, StringType, nullable = true), 8L, 257L, 1000003L))
  }

  test("WinnowAnchors doGenCode compiles under janino") {
    mustCompile(graft.functions.WinnowAnchors(
      BoundReference(0, StringType, nullable = true), 20, 21, 31L, 1000000007L))
  }

  test("NfcNormalize doGenCode compiles under janino") {
    mustCompile(graft.functions.NfcNormalize(
      BoundReference(0, StringType, nullable = true)))
  }

  test("BitmapAndCount / BitmapCardinality doGenCode compile under janino") {
    mustCompile(BitmapAndCount(
      BoundReference(0, BinaryType, nullable = true),
      BoundReference(1, BinaryType, nullable = true)))
    mustCompile(BitmapCardinality(BoundReference(0, BinaryType, nullable = true)))
  }

  test("Q8Encode / Q8Dot doGenCode compile under janino") {
    mustCompile(Q8Encode(
      BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true),
      BoundReference(1, DoubleType, nullable = true)))
    mustCompile(Q8Dot(
      BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = true),
      BoundReference(1, BinaryType, nullable = true)))
  }

  test("BpeEncodeExpr doGenCode compiles under janino (reference-object merges table)") {
    mustCompile(BpeEncodeExpr(
      BoundReference(0, StringType, nullable = true),
      graft.operators.Bpe.StandardMerges))
  }

  test("q55 end-to-end still returns boundaries") {
    val rows = SparkEntry.queries("q55_cdc_chunking")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
  }
}
