package graft.ndarray

import org.scalatest.funsuite.AnyFunSuite

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck properties for the kernel primitives every operator is
  * built on: slice/insert tiling, transpose involution, and
  * slice-of-transpose commutation, across dtypes and 1-3 dims; and the
  * row-wise axis reductions and bulk typed accessors, byte for byte
  * against element-at-a-time reference loops, across every dtype, 0-4
  * dims (zero extents included) and every subset of axes. */
class NdArrayPropSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 80): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(graft.FuzzSeed(201610L))), p)
    assert(res.passed, res.status.toString)
  }

  private val dtypeGen = Gen.oneOf(DType.F64, DType.F32, DType.I64,
    DType.I32, DType.I16, DType.I8, DType.U8)

  private def mk(dtype: DType, shape: Array[Int], seed: Int): NdArray =
    NdArray.fromDoubles(dtype, shape, Array.tabulate(shape.product) { i =>
      val v = ((i * 53 + seed) % 201) - 100
      dtype match {
        case DType.F64 | DType.F32 => v / 2.0
        case DType.U8 => (v + 100).toDouble
        case _ => v.toDouble
      }
    })

  private val arrGen = for {
    dtype <- dtypeGen
    ndim <- Gen.chooseNum(1, 3)
    shape <- Gen.listOfN(ndim, Gen.chooseNum(1, 6))
    seed <- Gen.chooseNum(0, 1000)
  } yield mk(dtype, shape.toArray, seed)

  test("slice(starts, shape) agrees with per-cell indexing") {
    val g = for {
      a <- arrGen
      starts <- Gen.sequence[List[Int], Int](
        a.shape.toList.map(s => Gen.chooseNum(0, s - 1)))
      lens <- Gen.sequence[List[Int], Int](
        a.shape.toList.zip(starts).map { case (s, st) =>
          Gen.chooseNum(1, s - st) })
    } yield (a, starts.toArray, lens.toArray)
    check(Prop.forAllNoShrink(g) { case (a, starts, lens) =>
      val sl = a.slice(starts, lens)
      val n = lens.product
      val ok = (0 until n).forall { flat =>
        // unravel flat into the slice's coords
        var rem = flat
        val coords = new Array[Int](lens.length)
        var d = lens.length - 1
        while (d >= 0) { coords(d) = rem % lens(d); rem /= lens(d); d -= 1 }
        var srcFlat = 0L
        var dd = 0
        while (dd < lens.length) {
          srcFlat = srcFlat * a.shape(dd) + (starts(dd) + coords(dd)); dd += 1
        }
        sl.getDouble(flat.toLong) == a.getDouble(srcFlat)
      }
      ok :| s"dtype=${a.dtype} shape=${a.shape.toSeq} starts=${starts.toSeq} lens=${lens.toSeq}"
    })
  }

  test("tiling a zeroed copy with slices reassembles the original") {
    val g = for {
      a <- arrGen
      cuts <- Gen.sequence[List[Int], Int](
        a.shape.toList.map(s => Gen.chooseNum(1, s)))
    } yield (a, cuts.toArray)
    check(Prop.forAllNoShrink(g) { case (a, chunk) =>
      val out = NdArray.zeros(a.dtype, a.shape)
      // iterate the chunk grid
      def rec(d: Int, starts: Array[Int]): Unit =
        if (d == a.ndim) {
          val lens = a.shape.indices.map(i =>
            math.min(chunk(i), a.shape(i) - starts(i))).toArray
          out.insert(starts.clone(), a.slice(starts.clone(), lens))
        } else {
          var st = 0
          while (st < a.shape(d)) {
            starts(d) = st; rec(d + 1, starts); st += chunk(d)
          }
        }
      rec(0, new Array[Int](a.ndim))
      (out.sameAs(a) && out.dtype == a.dtype) :|
        s"dtype=${a.dtype} shape=${a.shape.toSeq} chunk=${chunk.toSeq}"
    })
  }

  test("transpose by a permutation then its inverse is the identity") {
    val g = for {
      a <- arrGen
      perm <- Gen.const(()).map(_ =>
        new scala.util.Random(a.data.length).shuffle(a.shape.indices.toList))
    } yield (a, perm.toArray)
    check(Prop.forAllNoShrink(g) { case (a, perm) =>
      val t = a.transpose(perm)
      val inv = new Array[Int](perm.length)
      perm.zipWithIndex.foreach { case (p, i) => inv(p) = i }
      val back = t.transpose(inv)
      (t.shape.toSeq == perm.toSeq.map(a.shape) && back.sameAs(a)) :|
        s"dtype=${a.dtype} shape=${a.shape.toSeq} perm=${perm.toSeq}"
    })
  }

  test("astype agrees with per-cell C-cast semantics on every dtype pair") {
    val g = for {
      a <- arrGen
      target <- dtypeGen
    } yield (a, target)
    check(Prop.forAll(g) { case (a, target) =>
      val out = a.astype(target)
      val floatSide = Seq(a.dtype, target)
        .exists(d => d == DType.F32 || d == DType.F64)
      val ok = out.dtype == target && out.shape.sameElements(a.shape) &&
        (0L until a.size).forall { i =>
          if (floatSide) {
            // value routes through double then the target's setDouble:
            // float targets keep it (F32 narrows), int targets truncate
            val expect = NdArray.zeros(target, Array(1))
            expect.setDouble(0L, a.getDouble(i))
            out.getDouble(i) == expect.getDouble(0L)
          } else out.getLong(i) == {
            val expect = NdArray.zeros(target, Array(1))
            expect.setLong(0L, a.getLong(i))
            expect.getLong(0L)
          }
        }
      // same-dtype cast is the identity object
      (ok && (a.astype(a.dtype) eq a)) :|
        s"src=${a.dtype} dst=$target shape=${a.shape.toSeq}"
    })
  }

  // ---------------------------------------------------------------------
  // Reference implementations: the element-at-a-time odometer every axis
  // reduction used before the row-wise walk, with each kernel's body as
  // it was. They read and write through getDouble/setDouble.

  /** Visits every element of `a` in C order with its output flat index
    * (kept axes only) and its full index. Returns the kept shape. */
  private def odometer(a: NdArray, axes: Array[Int])
                      (body: (Long, Long, Array[Int]) => Unit): Array[Int] = {
    val keep = Array.range(0, a.ndim).filterNot(axes.contains)
    val outStrides = NdArray.zeros(DType.F64, keep.map(a.shape)).strides
    val idx = new Array[Int](a.ndim)
    var flat = 0L
    while (flat < a.size) {
      var outFlat = 0L
      var k = 0
      while (k < keep.length) { outFlat += idx(keep(k)) * outStrides(k); k += 1 }
      body(flat, outFlat, idx)
      var d = a.ndim - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) == a.shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    keep.map(a.shape)
  }

  private def keptZeros(a: NdArray, axes: Array[Int], k: Int): Array[NdArray] = {
    val shp = Array.range(0, a.ndim).filterNot(axes.contains).map(a.shape)
    Array.fill(k)(NdArray.zeros(DType.F64, shp))
  }

  private def add(o: NdArray, i: Long, v: Double): Unit = o.setDouble(i, o.getDouble(i) + v)

  private def elemWeight(axes: Array[Int], ws: Array[Array[Double]], idx: Array[Int]): Double = {
    var w = 1.0
    var a = 0
    while (a < axes.length) { if (ws(a) != null) w *= ws(a)(idx(axes(a))); a += 1 }
    w
  }

  private def refSumCount(a: NdArray, axes: Array[Int], skipna: Boolean): Seq[NdArray] = {
    val Array(sums, counts) = keptZeros(a, axes, 2)
    odometer(a, axes) { (flat, o, _) =>
      val v = a.getDouble(flat)
      if (!skipna || !v.isNaN) { add(sums, o, v); add(counts, o, 1.0) }
    }
    Seq(sums, counts)
  }

  private def refProd(a: NdArray, axes: Array[Int], skipna: Boolean): NdArray = {
    val out = NdArray.fill(DType.F64, keptZeros(a, axes, 1)(0).shape, 1.0)
    odometer(a, axes) { (flat, o, _) =>
      val v = a.getDouble(flat)
      if (!skipna || !v.isNaN) out.setDouble(o, out.getDouble(o) * v)
    }
    out
  }

  private def refWeightedSumCount(a: NdArray, axes: Array[Int], ws: Array[Array[Double]],
                                  skipna: Boolean): Seq[NdArray] = {
    val Array(sums, wsums) = keptZeros(a, axes, 2)
    odometer(a, axes) { (flat, o, idx) =>
      val v = a.getDouble(flat)
      if (!skipna || !v.isNaN) {
        val w = elemWeight(axes, ws, idx)
        add(sums, o, w * v); add(wsums, o, w)
      }
    }
    Seq(sums, wsums)
  }

  private def refSumSqCount(a: NdArray, axes: Array[Int], skipna: Boolean): Seq[NdArray] = {
    val Array(sums, sqs, counts) = keptZeros(a, axes, 3)
    odometer(a, axes) { (flat, o, _) =>
      val v = a.getDouble(flat)
      if (!skipna || !v.isNaN) { add(sums, o, v); add(sqs, o, v * v); add(counts, o, 1.0) }
    }
    Seq(sums, sqs, counts)
  }

  private def refPairMoments(a: NdArray, b: NdArray, axes: Array[Int],
                             skipna: Boolean): Seq[NdArray] = {
    val out = keptZeros(a, axes, 6)
    odometer(a, axes) { (flat, o, _) =>
      val x = a.getDouble(flat)
      val y = b.getDouble(flat)
      if (!skipna || (!x.isNaN && !y.isNaN)) {
        add(out(0), o, 1.0); add(out(1), o, x); add(out(2), o, y)
        add(out(3), o, x * y); add(out(4), o, x * x); add(out(5), o, y * y)
      }
    }
    out.toSeq
  }

  private def refWeightedMoments(a: NdArray, axes: Array[Int], ws: Array[Array[Double]],
                                 skipna: Boolean): Seq[NdArray] = {
    val Array(sums, sqs, wsums) = keptZeros(a, axes, 3)
    odometer(a, axes) { (flat, o, idx) =>
      val v = a.getDouble(flat)
      if (!skipna || !v.isNaN) {
        val w = elemWeight(axes, ws, idx)
        add(sums, o, w * v); add(sqs, o, w * v * v); add(wsums, o, w)
      }
    }
    Seq(sums, sqs, wsums)
  }

  private def refExtreme(a: NdArray, axes: Array[Int], skipna: Boolean,
                         isMin: Boolean): NdArray = {
    val out = NdArray.fill(DType.F64, keptZeros(a, axes, 1)(0).shape, Double.NaN)
    val seen = new Array[Boolean](out.size.toInt)
    val poisoned = new Array[Boolean](out.size.toInt)
    odometer(a, axes) { (flat, outFlat, _) =>
      val v = a.getDouble(flat)
      val o = outFlat.toInt
      if (v.isNaN) { if (!skipna) poisoned(o) = true }
      else if (!poisoned(o)) {
        val cur = out.getDouble(outFlat)
        if (!seen(o) || (if (isMin) v < cur else v > cur)) out.setDouble(outFlat, v)
        seen(o) = true
      }
    }
    poisoned.indices.foreach(i => if (poisoned(i)) out.setDouble(i.toLong, Double.NaN))
    out
  }

  private def refArgExtreme(a: NdArray, axis: Int, isMin: Boolean,
                            skipna: Boolean): Seq[NdArray] = {
    val shp = keptZeros(a, Array(axis), 1)(0).shape
    val vals = NdArray.fill(DType.F64, shp, Double.NaN)
    val idxs = NdArray.fill(DType.F64, shp, -1.0)
    val poisoned = new Array[Boolean](vals.size.toInt)
    odometer(a, Array(axis)) { (flat, outFlat, idx) =>
      val o = outFlat.toInt
      val v = a.getDouble(flat)
      if (v.isNaN) { if (!skipna) poisoned(o) = true }
      else if (!poisoned(o)) {
        val cur = vals.getDouble(outFlat)
        if (cur.isNaN || (if (isMin) v < cur else v > cur)) {
          vals.setDouble(outFlat, v)
          idxs.setDouble(outFlat, idx(axis).toDouble)
        }
      }
    }
    poisoned.indices.foreach { i =>
      if (poisoned(i)) { vals.setDouble(i.toLong, Double.NaN); idxs.setDouble(i.toLong, -1.0) }
    }
    Seq(vals, idxs)
  }

  /** Per output cell, the (value, weight) pairs a quantile gathers, in
    * visit order, or None for a poisoned cell. */
  private def refGather(a: NdArray, axes: Array[Int], ws: Array[Array[Double]],
                        skipna: Boolean): (Array[Int], Array[Option[Vector[(Double, Double)]]]) = {
    val cells = Array.fill(keptZeros(a, axes, 1)(0).size.toInt)(
      Option(Vector.empty[(Double, Double)]))
    val shp = odometer(a, axes) { (flat, o, idx) =>
      val v = a.getDouble(flat)
      if (v.isNaN) { if (!skipna) cells(o.toInt) = None }
      else cells(o.toInt) = cells(o.toInt).map(_ :+ (v -> elemWeight(axes, ws, idx)))
    }
    (shp, cells)
  }

  private def refQuantile(a: NdArray, axes: Array[Int], q: Double, skipna: Boolean): NdArray = {
    val (shp, cells) = refGather(a, axes, Array.fill(axes.length)(null), skipna)
    NdArray.fromDoubles(DType.F64, shp, cells.map {
      case Some(c) if c.nonEmpty =>
        val v = c.map(_._1).toArray
        java.util.Arrays.sort(v)
        val h = q * (v.length - 1)
        val lo = math.floor(h).toInt
        val frac = h - lo
        if (frac == 0.0) v(lo) else v(lo) + frac * (v(lo + 1) - v(lo))
      case _ => Double.NaN
    })
  }

  private def refWeightedQuantile(a: NdArray, axes: Array[Int], q: Double,
                                  ws: Array[Array[Double]], skipna: Boolean): NdArray = {
    val (shp, cells) = refGather(a, axes, ws, skipna)
    NdArray.fromDoubles(DType.F64, shp, cells.map {
      case Some(c) if c.nonEmpty && c.map(_._2).sum > 0.0 =>
        val v = c.map(_._1).toArray
        val w = c.map(_._2).toArray
        var total = 0.0
        w.foreach(total += _)
        NdArray.sortTandem(v, w, 0, v.length)
        var cum = 0.0
        val pick = w.indices.find { j => cum += w(j); cum >= q * total }
        v(pick.getOrElse(v.length - 1))
      case _ => Double.NaN
    })
  }

  // ---------------------------------------------------------------------

  private val allDtypes = Seq(DType.F64, DType.F32, DType.I64, DType.I32,
    DType.I16, DType.I8, DType.U8, DType.Bool, DType.TimeNs)

  /** Values with NaN and both zeros on float dtypes, and the full sign
    * and width range of the integer ones. */
  private def valueGen(dtype: DType): Gen[Double] = dtype match {
    case DType.F64 | DType.F32 => Gen.frequency(
      5 -> Gen.chooseNum(-40, 40).map(_ / 4.0), 2 -> Gen.const(Double.NaN),
      2 -> Gen.const(-0.0), 1 -> Gen.const(0.0), 1 -> Gen.const(1e30))
    case DType.Bool => Gen.oneOf(0.0, 1.0)
    case DType.U8 => Gen.chooseNum(0, 255).map(_.toDouble)
    case DType.I8 => Gen.chooseNum(-128, 127).map(_.toDouble)
    case DType.I16 => Gen.chooseNum(-32768, 32767).map(_.toDouble)
    case _ => Gen.chooseNum(-1000000L, 1000000L).map(_.toDouble)
  }

  private def arrOf(dtype: DType, shape: Array[Int]): Gen[NdArray] =
    Gen.listOfN(shape.product, valueGen(dtype))
      .map(vs => NdArray.fromDoubles(dtype, shape, vs.toArray))

  private val kernelArrGen: Gen[NdArray] = for {
    dtype <- Gen.oneOf(allDtypes)
    ndim <- Gen.chooseNum(0, 4)
    shape <- Gen.listOfN(ndim, Gen.frequency(1 -> Gen.const(0), 6 -> Gen.chooseNum(1, 4)))
    a <- arrOf(dtype, shape.toArray)
  } yield a

  private def subsets(ndim: Int): Seq[Array[Int]] =
    (0 until (1 << ndim)).map(m => (0 until ndim).filter(d => (m >> d & 1) == 1).toArray)

  private implicit class Parts(p: Product) {
    def parts: Seq[NdArray] = p.productIterator.map(_.asInstanceOf[NdArray]).toSeq
  }

  private def sameBytes(got: Seq[NdArray], want: Seq[NdArray]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.dtype == w.dtype && g.shape.sameElements(w.shape) &&
        java.util.Arrays.equals(g.data, w.data)
    }

  private def weightsFor(a: NdArray, axes: Array[Int], seed: Int,
                         nulls: Boolean): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    axes.map { ax =>
      if (nulls && rnd.nextInt(3) == 0) null
      else Array.fill(a.shape(ax))(rnd.nextInt(9) / 4.0 + 0.125)
    }
  }

  test("row-wise reductions are byte-identical to the element-at-a-time loops") {
    val g = for { a <- kernelArrGen; seed <- Gen.chooseNum(0, 1 << 20) } yield (a, seed)
    check(Prop.forAllNoShrink(g) { case (a, seed) =>
      val other = NdArray.fromDoubles(a.dtype, a.shape,
        a.toDoubles.map(v => if (v.isNaN) 0.5 else -v))
      val fails = for {
        axes <- subsets(a.ndim)
        skipna <- Seq(true, false)
        ws = weightsFor(a, axes, seed, nulls = true)
        (name, got, want) <- Seq(
          ("sumCount", a.sumCount(axes, skipna).parts,
            refSumCount(a, axes, skipna)),
          ("prodAlong", Seq(a.prodAlong(axes, skipna)), Seq(refProd(a, axes, skipna))),
          ("weightedSumCount", a.weightedSumCount(axes, ws, skipna).parts,
            refWeightedSumCount(a, axes, ws, skipna)),
          ("sumSqCount", a.sumSqCount(axes, skipna).parts,
            refSumSqCount(a, axes, skipna)),
          ("pairMoments", a.pairMoments(other, axes, skipna).toSeq,
            refPairMoments(a, other, axes, skipna)),
          ("weightedMoments", a.weightedMoments(axes, ws, skipna).parts,
            refWeightedMoments(a, axes, ws, skipna)),
          ("min", Seq(a.extreme(axes, skipna, isMin = true)),
            Seq(refExtreme(a, axes, skipna, isMin = true))),
          ("max", Seq(a.extreme(axes, skipna, isMin = false)),
            Seq(refExtreme(a, axes, skipna, isMin = false))))
        if !sameBytes(got, want)
      } yield s"$name axes=${axes.toSeq} skipna=$skipna"
      fails.isEmpty :| s"dtype=${a.dtype} shape=${a.shape.toSeq}: ${fails.take(5)}"
    }, n = 150)
  }

  test("row-wise quantiles and arg-extremes match the element-at-a-time gather") {
    val g = for { a <- kernelArrGen; seed <- Gen.chooseNum(0, 1 << 20) } yield (a, seed)
    check(Prop.forAllNoShrink(g) { case (a, seed) =>
      val fails = for {
        axes <- subsets(a.ndim)
        skipna <- Seq(true, false)
        q <- Seq(0.0, 0.3, 0.5, 1.0)
        ws = weightsFor(a, axes, seed, nulls = false)
        (name, got, want) <- Seq(
          ("quantile", Seq(a.quantileAlong(axes, q, skipna)), Seq(refQuantile(a, axes, q, skipna))),
          ("weightedQuantile", Seq(a.weightedQuantileAlong(axes, q, ws, skipna)),
            Seq(refWeightedQuantile(a, axes, q, ws, skipna))))
        if !sameBytes(got, want)
      } yield s"$name axes=${axes.toSeq} skipna=$skipna q=$q"
      val argFails = for {
        axis <- 0 until a.ndim
        skipna <- Seq(true, false)
        isMin <- Seq(true, false)
        got = a.argExtreme(axis, isMin, skipna)
        if !sameBytes(Seq(got._1, got._2), refArgExtreme(a, axis, isMin, skipna))
      } yield s"argExtreme axis=$axis skipna=$skipna isMin=$isMin"
      (fails ++ argFails).isEmpty :|
        s"dtype=${a.dtype} shape=${a.shape.toSeq}: ${(fails ++ argFails).take(5)}"
    }, n = 100)
  }

  test("a sum starting at +0.0 never turns -0.0, so skipping NaN by adding +0.0 is exact") {
    // all-(-0.0) and (-0.0, NaN) cells sum to +0.0, as x + (-0.0) == x
    // for every x != -0.0 and the accumulator starts at +0.0
    val a = NdArray.fromDoubles(DType.F64, Array(2, 3),
      Array(-0.0, -0.0, Double.NaN, -0.0, Double.NaN, -0.0))
    val plusZero = java.lang.Double.doubleToRawLongBits(0.0)
    for (axes <- subsets(2); skipna <- Seq(true, false)) {
      val (sums, _) = a.sumCount(axes, skipna)
      val (wsums, _) = a.weightedSumCount(axes, Array.fill(axes.length)(null), skipna)
      for (s <- Seq(sums, wsums); i <- 0L until s.size; v = s.getDouble(i) if !v.isNaN)
        assert(java.lang.Double.doubleToRawLongBits(v) == plusZero,
          s"axes=${axes.toSeq} skipna=$skipna cell $i = $v")
    }
    // the identity-seeded product keeps the sign, as the loop always did
    val prod = a.prodAlong(Array(0), skipna = true)
    assert(1.0 / prod.getDouble(0) == Double.PositiveInfinity) // 1 · -0 · -0
    assert(1.0 / prod.getDouble(2) == Double.NegativeInfinity) // 1 · -0
  }

  test("bulk typed accessors agree with getDouble/setDouble on every dtype") {
    val g = for {
      a <- kernelArrGen
      v <- valueGen(DType.F64)
      b <- arrOf(a.dtype, a.shape)
    } yield (a, b, v)
    check(Prop.forAllNoShrink(g) { case (a, b, v) =>
      val n = a.size.toInt
      val perCell = (0 until n).map(i => a.getDouble(i.toLong)).toArray
      val refFill = NdArray.zeros(a.dtype, a.shape)
      (0 until n).foreach(i => refFill.setDouble(i.toLong, v))
      val refFrom = NdArray.zeros(a.dtype, a.shape)
      (0 until n).foreach(i => refFrom.setDouble(i.toLong, perCell(i) * 3 - 1))
      val refZip = NdArray.zeros(DType.F64, a.shape)
      (0 until n).foreach(i => refZip.setDouble(i.toLong, a.getDouble(i.toLong) - b.getDouble(i.toLong)))
      val refMap = NdArray.zeros(DType.F64, a.shape)
      (0 until n).foreach(i => refMap.setDouble(i.toLong, a.getDouble(i.toLong) / 3))
      val ok = java.util.Arrays.equals(
          a.toDoubles.map(java.lang.Double.doubleToRawLongBits),
          perCell.map(java.lang.Double.doubleToRawLongBits)) &&
        sameBytes(Seq(NdArray.fill(a.dtype, a.shape, v),
            NdArray.fromDoubles(a.dtype, a.shape, perCell.map(_ * 3 - 1)),
            a.zipF64(b)(_ - _), a.mapF64(_ / 3)),
          Seq(refFill, refFrom, refZip, refMap))
      ok :| s"dtype=${a.dtype} shape=${a.shape.toSeq} fill=$v"
    })
  }
}
