package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType,
  LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.expressions._

/** Codegen/interpreted parity law for every `graft.expressions` kernel:
  * the value `doGenCode` computes (factory mode CODEGEN_ONLY) equals
  * the value `eval` computes (NO_CODEGEN), byte for byte in the
  * projected UnsafeRow. Below the tiny-input gate every query runs the
  * interpreted form (`Tables.tuneForScale`) while large inputs run the
  * compiled one, so the oracle, which only ever sees tiny tiers,
  * checks `eval` alone; this law carries its verdict to `doGenCode`.
  * Inputs: NULL, empty, unicode (supplementary planes included),
  * whitespace runs, malformed UTF-8, strings and binaries over 64 KB,
  * empty and unequal-length arrays. Pure JVM: no SparkSession. */
object KernelParityProperties extends Properties("KernelParity") {

  /** `e` over column 0 of the input row, as a projection built by the
    * factory `mode` picks. */
  private def projection(mode: String, e: Expression): UnsafeProjection = {
    val conf = new SQLConf
    conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, mode)
    SQLConf.withExistingConf(conf)(UnsafeProjection.create(Seq(e)))
  }

  private def in(t: DataType, ordinal: Int = 0) = BoundReference(ordinal, t, nullable = true)

  /** The parity law of `kernel` over rows drawn from `rows`. */
  private def parity(kernel: Expression, rows: Gen[InternalRow]): Prop = {
    val compiled = projection("CODEGEN_ONLY", kernel)
    val interpreted = projection("NO_CODEGEN", kernel)
    val modes = (!compiled.isInstanceOf[InterpretedUnsafeProjection] &&
      interpreted.isInstanceOf[InterpretedUnsafeProjection]) :|
      s"factory modes built ${compiled.getClass} and ${interpreted.getClass}"
    modes && forAll(rows) { row =>
      val c = compiled(row).copy()
      val i = interpreted(row).copy()
      (c == i) :| s"codegen $c != interpreted $i on $row"
    }
  }

  // ASCII words, accents, CJK, tabs/newlines and runs of spaces: the
  // byte-splitting kernels tokenize on 0x20 and count code points
  private val alphabet = "ab cd  ü é 日本 ク\t\n.,   x"

  /** A string of `n` chars drawn from [[alphabet]] by a seeded RNG
    * (fast enough for the 64 KB+ cases). */
  private def soup(seed: Long, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    val sb = new java.lang.StringBuilder(n)
    (0 until n).foreach(_ => sb.append(alphabet(rnd.nextInt(alphabet.length))))
    sb.toString
  }

  private val codePoint: Gen[Int] =
    Gen.oneOf(Gen.choose(0x20, 0xd7ff), Gen.choose(0xe000, 0x10ffff))

  private val text: Gen[UTF8String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    2 -> Gen.oneOf(" ", "   ", " a", "a ", "a  b", "  a   b  ", "\t \n ", "a b c d e f g h i j"),
    6 -> Gen.zip(Gen.long, Gen.choose(0, 300)).map { case (s, n) => soup(s, n) },
    2 -> Gen.listOf(codePoint).map(_.map(cp => new String(Character.toChars(cp))).mkString),
    1 -> Gen.zip(Gen.long, Gen.choose(65 * 1024, 80 * 1024)).map { case (s, n) => soup(s, n) }
  ).map(s => if (s == null) null else UTF8String.fromString(s))

  private val malformed: Gen[UTF8String] =
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(b => UTF8String.fromBytes(b.toArray))

  private val strings: Gen[InternalRow] =
    Gen.frequency(9 -> text, 1 -> malformed).map(s => InternalRow(s))

  private val longArrays: Gen[InternalRow] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Array.emptyLongArray),
    4 -> Gen.listOf(Gen.long).map(_.toArray),
    // 60-bit digests, the md5 family's domain, with repeats
    3 -> Gen.listOf(Gen.oneOf(Gen.choose(0L, (1L << 60) - 1), Gen.const(42L))).map(_.toArray),
    1 -> Gen.choose(5000, 20000).map(n => Array.tabulate(n)(i => i * 7919L))
  ).map(a => InternalRow(if (a == null) null else UnsafeArrayData.fromPrimitiveArray(a)))

  private val bytes: Gen[InternalRow] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Array.emptyByteArray),
    6 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
    1 -> Gen.zip(Gen.long, Gen.choose(65 * 1024, 80 * 1024)).map { case (s, n) =>
      val b = new Array[Byte](n); new scala.util.Random(s).nextBytes(b); b }
  ).map(b => InternalRow(b))

  private val double: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue))

  private val doubles: Gen[UnsafeArrayData] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(Array.emptyDoubleArray),
    1 -> Gen.choose(1, 8).map(n => Array.fill(n)(0.0)),
    6 -> Gen.listOf(double).map(_.toArray)
  ).map(a => if (a == null) null else UnsafeArrayData.fromPrimitiveArray(a))

  /** Two vectors: independent (so mostly of unequal length), or the
    * same one twice. */
  private val vectorPairs: Gen[InternalRow] = Gen.frequency(
    3 -> Gen.zip(doubles, doubles).map { case (a, b) => InternalRow(a, b) },
    1 -> doubles.map(a => InternalRow(a, a)))

  private val str = in(StringType)
  private val longs = in(ArrayType(LongType, containsNull = false))
  private val vecA = in(ArrayType(DoubleType, containsNull = false))
  private val vecB = in(ArrayType(DoubleType, containsNull = false), 1)

  property("BpeTokenCount") = parity(BpeTokenCount(str, 4), strings)
  property("WinnowFingerprint") = parity(WinnowFingerprint(str, 8, 4), strings)
  property("ShingleHashes") = parity(ShingleHashes(str, 3), strings)
  property("ShingleDigests") = parity(ShingleDigests(str, 3), strings)
  property("MinHashAffineSigs") = parity(
    MinHashAffineSigs(longs, ops.Text.permASeq, ops.Text.permBSeq, 2147483647L), longArrays)
  property("SimHashFromSet") = parity(SimHashFromSet(longs), longArrays)
  property("MinHashXxSigs") = parity(MinHashXxSigs(longs, 16), longArrays)
  property("SimHashText") = parity(SimHashText(str), strings)
  property("BigramStats") = parity(BigramStats(str), strings)
  property("BinaryByteSum") = parity(BinaryByteSum(in(BinaryType)), bytes)
  property("DotProduct") = parity(DotProduct(vecA, vecB), vectorPairs)
  property("CosineSimilarity") = parity(CosineSimilarity(vecA, vecB), vectorPairs)
}
