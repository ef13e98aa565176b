package graft.functions

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property checks for the pure JVM kernels behind the Catalyst
  * expressions — each fused kernel must agree with its naive
  * definitional model on arbitrary input. */
object KernelProps extends Properties("HashKernels") {

  private val P = HashKernels.P
  private val token = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val text = Gen.listOf(token).map(_.mkString(" "))
  private val hashes = Gen.listOf(Gen.chooseNum(0L, (1L << 60) - 1)).map(_.toArray)

  property("md5_60 equals parsing the first 15 hex chars of md5") =
    forAll(token) { s =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      HashKernels.md5_60(s) == java.lang.Long.parseLong(hex.take(15), 16)
    }

  property("minhashSig equals the per-permutation naive min") =
    forAll(hashes) { hs =>
      val a = graft.ext.Dedup.PermA.toArray
      val b = graft.ext.Dedup.PermB.toArray
      val sig = HashKernels.minhashSig(hs, a, b)
      sig.toSeq == a.indices.map { j =>
        if (hs.isEmpty) P
        else hs.map(h => (a(j) * (h % P) + b(j)) % P).min
      }
    }

  property("simhash bit i is set iff a strict majority of hashes set it") =
    forAll(hashes, Gen.chooseNum(1, 48)) { (hs, nBits) =>
      val out = HashKernels.simhash(hs, nBits)
      (0 until nBits).forall { i =>
        val ones = hs.count(h => ((h >>> i) & 1L) == 1L)
        val expected = 2 * ones > hs.length
        (((out >>> i) & 1L) == 1L) == expected
      }
    }

  property("tokensAll60 equals md5_60 over every token in order") =
    forAll(text) { s =>
      HashKernels.tokensAll60(s).toSeq ==
        HashKernels.tokens(s).toSeq.map(HashKernels.md5_60)
    }

  property("shinglesPos60 equals md5_60 over prefixed positional n-grams") =
    forAll(text, Gen.chooseNum(1, 4), Gen.oneOf("", "win:")) { (s, n, pfx) =>
      val tk = HashKernels.tokens(s)
      val expected =
        if (tk.length < n) Seq.empty[Long]
        else (0 to tk.length - n).map(i =>
          HashKernels.md5_60(pfx + tk.slice(i, i + n).mkString(" ")))
      HashKernels.shinglesPos60(s, n, pfx).toSeq == expected
    }

  property("shingles60 equals md5_60 over shingleStrings") =
    forAll(text, Gen.chooseNum(1, 4)) { (s, n) =>
      HashKernels.shingles60(s, n).toSeq ==
        HashKernels.shingleStrings(s, n).toSeq.map(HashKernels.md5_60)
    }

  property("rollingHash equals the BigInt fold mod 1e9+7") =
    forAll(text) { s =>
      val expected = s.codePoints().toArray.foldLeft(BigInt(0)) {
        (acc, cp) => (acc * 31 + cp) % BigInt(P)
      }
      HashKernels.rollingHash(s) == expected.toLong
    }

  property("shingles60 is order-sensitive but duplicate-insensitive") =
    forAll(Gen.listOfN(6, token)) { toks =>
      val t = toks.mkString(" ")
      val once = HashKernels.shingles60(t, 3).toSeq
      val doubled = HashKernels.shingles60((toks ++ toks).mkString(" "), 3)
      // every original shingle survives in the doubled text's distinct set
      once.forall(doubled.contains)
    }

  property("bowMd5 is invariant under token permutation and duplication") =
    forAll(Gen.nonEmptyListOf(token)) { toks =>
      val a = HashKernels.bowMd5(toks.mkString(" "))
      val b = HashKernels.bowMd5(scala.util.Random.shuffle(toks ++ toks).mkString(" "))
      a == b
    }

  property("tokensDistinct60 has no duplicates and covers every token") =
    forAll(text) { s =>
      val out = HashKernels.tokensDistinct60(s)
      val expected = HashKernels.tokens(s).distinct.map(HashKernels.md5_60)
      out.toSeq == expected.toSeq
    }
}

/** ExactPercentile's buffer + interpolation against a reference model. */
object PercentileProps extends Properties("ExactPercentile") {

  private def model(xs: Seq[Double], p: Double): Double = {
    val a = xs.sorted
    val pos = p * (a.length - 1)
    val lo = pos.toInt
    val frac = pos - lo
    if (lo + 1 < a.length) a(lo) * (1 - frac) + a(lo + 1) * frac else a(lo)
  }

  private val data = Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))
  private val pct = Gen.chooseNum(0.0, 1.0)

  property("buffer eval equals sort-and-interpolate at any split") =
    forAll(data, pct, Gen.chooseNum(0, 100)) { (xs, p, cut) =>
      val agg = ExactPercentile(null, Seq(p))
      val (l, r) = xs.splitAt(cut % (xs.size + 1))
      val b1 = new DoubleBuf(); l.foreach(b1.add)
      val b2 = new DoubleBuf(); r.foreach(b2.add)
      b1.merge(b2)
      val out = agg.eval(b1).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray()(0)
      math.abs(out - model(xs, p)) < 1e-6 * math.max(1.0, math.abs(model(xs, p)))
    }

  property("countOutside equals a SQL `v < lo OR v > hi` filter over the input") =
    forAll(Gen.nonEmptyListOf(Gen.frequency(
        8 -> Gen.chooseNum(-1e3, 1e3), 1 -> Gen.oneOf(Double.NaN, 0.0, -0.0))),
      pct, pct) { (xs, p1, p2) =>
      val (lo, hi) = (math.min(p1, p2), math.max(p1, p2))
      val agg = ExactPercentile(null, Seq(lo, hi), countOutside = true)
      val b = new DoubleBuf(); xs.foreach(b.add)
      val out = agg.eval(b).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val Array(qLo, qHi) = out.getArray(0).toDoubleArray()
      // SQL `<` on doubles: NaN is above every number, -0.0 == 0.0
      def lt(a: Double, b: Double) = !a.isNaN && (b.isNaN || a < b)
      out.getLong(1) == xs.count(v => lt(v, qLo) || lt(qHi, v))
    }

  property("serialize/deserialize round-trips the buffer") =
    forAll(data) { xs =>
      val agg = ExactPercentile(null, Seq(0.5))
      val b = new DoubleBuf(); xs.foreach(b.add)
      val back = agg.deserialize(agg.serialize(b))
      back.n == b.n && back.arr.take(back.n).toSeq == b.arr.take(b.n).toSeq
    }
}
