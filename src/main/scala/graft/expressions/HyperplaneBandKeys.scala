package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: banded random-hyperplane LSH keys for
  * angular similarity, emitted as ONE array<long> ready to explode into
  * a bucket join — each element packs (band index << bitsPerBand) | the
  * band's key, so a single equi-join column replaces (band, bkey).
  *
  * Amplification layout (the r/b trade): `baseBits` independent
  * hyperplane bits are computed once per vector; each of the `bands`
  * keys gathers `bitsPerBand` of them, sampled WITHOUT replacement per
  * band from a deterministic per-band shuffle (bits-reuse banding, as in
  * classic MinHash LSH implementations — avoids recomputing
  * bands×bitsPerBand projections). With per-bit collision probability
  * p = 1 − θ/π (Goemans–Williamson), a pair collides in a band with
  * p^r and is a candidate with recall 1 − (1 − p^r)^b. Wide bands
  * (r = 16 ⇒ 65,536 buckets/band) keep random-pair collisions near the
  * birthday floor b/2^(r+1) per pair — the scale knob — while b lifts
  * recall back; at equal recall, r=16/b≈2048 generates ~20× fewer false
  * candidates than r=4/b=8.
  *
  * Plane derivation matches [[HyperplaneSignature]] (MurmurHash3 of
  * (bit, dim) & 1), so signatures are deterministic across runs/plans.
  *
  * Each vector is projected over all of its elements: a plane element
  * depends only on its (bit, index), so the planes grow with the
  * longest vector seen and no caller has to learn the dimension from
  * the data first.
  */
case class HyperplaneBandKeys(child: Expression, baseBits: Int,
    bands: Int, bitsPerBand: Int) extends UnaryExpression {

  require(baseBits >= bitsPerBand && bitsPerBand >= 1 && bitsPerBand <= 32,
    "need baseBits >= bitsPerBand and bitsPerBand in [1, 32]")
  require(bands >= 1 && bands.toLong << bitsPerBand <= Long.MaxValue,
    "band index + key must pack into a long")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_band_keys expects array<float|double>, got ${other.simpleString}")
  }

  /** planes(j)(i) == true -> +x, false -> -x (same scheme as
    * HyperplaneSignature so both operators share one bit definition). */
  @transient private lazy val planes: HyperplanePlanes =
    new HyperplanePlanes(baseBits)

  /** sel(b) = the base-bit indices band b gathers: first `bitsPerBand`
    * of a deterministic Fisher–Yates shuffle of 0..baseBits-1 seeded by
    * the band index (without replacement ⇒ every band has exactly r
    * independent bits). */
  @transient private lazy val sel: Array[Array[Int]] =
    HyperplaneBandKeys.bandSelections(bands, bitsPerBand, baseBits)

  private def computeKeys(ad: ArrayData): Array[Long] = {
    val n = ad.numElements()
    val rows = planes.covering(n)
    val isFloat = elemIsFloat
    val bits = new Array[Boolean](baseBits)
    var j = 0
    while (j < baseBits) {
      val plane = rows(j)
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)
        proj += (if (plane(i)) x else -x)
        i += 1
      }
      bits(j) = proj >= 0
      j += 1
    }
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val s = sel(b)
      var key = 0L
      var k = 0
      while (k < bitsPerBand) {
        if (bits(s(k))) key |= (1L << k)
        k += 1
      }
      keys(b) = (b.toLong << bitsPerBand) | key
      b += 1
    }
    keys
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(computeKeys(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes,
      classOf[HyperplanePlanes].getName)
    val selRef = ctx.addReferenceObj("sel", sel, "int[][]")
    val getter = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val bitsArr = ctx.freshName("bits")
      val keys = ctx.freshName("keys")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val k = ctx.freshName("k")
      val proj = ctx.freshName("proj")
      val key = ctx.freshName("key")
      val s = ctx.freshName("s")
      val plane = ctx.freshName("plane")
      val rows = ctx.freshName("rows")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |boolean[][] $rows = $planesRef.covering($n);
         |boolean[] $bitsArr = new boolean[$baseBits];
         |for (int $j = 0; $j < $baseBits; $j++) {
         |  boolean[] $plane = $rows[$j];
         |  double $proj = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.$getter($i);
         |    $proj += $plane[$i] ? $x : -$x;
         |  }
         |  $bitsArr[$j] = $proj >= 0;
         |}
         |long[] $keys = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  int[] $s = $selRef[$b];
         |  long $key = 0L;
         |  for (int $k = 0; $k < $bitsPerBand; $k++) {
         |    if ($bitsArr[$s[$k]]) $key |= (1L << $k);
         |  }
         |  $keys[$b] = (((long) $b) << $bitsPerBand) | $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBandKeys {
  import org.apache.spark.sql.{Column, GraftSqlBridge}

  def apply(vec: Column, baseBits: Int, bands: Int,
      bitsPerBand: Int): Column =
    GraftSqlBridge.column(new HyperplaneBandKeys(
      GraftSqlBridge.expression(vec), baseBits, bands, bitsPerBand))

  /** The ONE plane derivation (shared by the expression instance and
    * any oracle that mirrors it): planes(j)(i) == true -> +x. */
  def planes(baseBits: Int, dim: Int): Array[Array[Boolean]] =
    Array.tabulate(baseBits, dim)((j, i) =>
      (scala.util.hashing.MurmurHash3.productHash((j, i)) & 1) == 1)

  /** The ONE band-selection derivation: sel(b) = first `bitsPerBand`
    * indices of the Fisher-Yates shuffle of 0..baseBits-1 seeded by b. */
  def bandSelections(bands: Int, bitsPerBand: Int,
      baseBits: Int): Array[Array[Int]] =
    Array.tabulate(bands) { b =>
      val rnd = new scala.util.Random(
        scala.util.hashing.MurmurHash3.productHash(("band-sel", b)))
      rnd.shuffle((0 until baseBits).toVector).take(bitsPerBand).toArray
    }

  /** Plane sign rows packed as ONE long per plane (dim <= 64: bit i of
    * masks(j) set == planes(j)(i) == +x) — the form an external SQL
    * oracle can inline as literals and unpack with `(mask >> i) & 1`,
    * making the engine's banded-LSH candidate generation reproducible
    * OUTSIDE the JVM (Scala MurmurHash3 is not computable in SQL, but
    * its OUTPUT is just data). */
  def planeMasks(baseBits: Int, dim: Int): Array[Long] = {
    require(dim <= 64, s"planeMasks packs one long per plane; dim=$dim")
    planes(baseBits, dim).map { row =>
      row.zipWithIndex.foldLeft(0L) { case (m, (b, i)) =>
        if (b) m | (1L << i) else m
      }
    }
  }
}

/** The planes one expression instance projects with: as many columns
  * as the longest vector seen so far, grown on demand and published
  * whole, so concurrent readers see a complete table. */
final class HyperplanePlanes(baseBits: Int) extends Serializable {
  @volatile private var rows: Array[Array[Boolean]] =
    HyperplaneBandKeys.planes(baseBits, 0)

  /** Planes with at least `n` columns. */
  def covering(n: Int): Array[Array[Boolean]] = {
    val cur = rows
    if (cur(0).length >= n) cur
    else synchronized {
      if (rows(0).length < n) rows = HyperplaneBandKeys.planes(baseBits, n)
      rows
    }
  }
}
