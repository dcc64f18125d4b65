package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.{Joins, Windowing}

/** Property-based invariants (SURVEY.md §5): window-count conservation,
  * sliding multiplicity, union cardinality, interval-join symmetry —
  * checked over randomized event sets via ScalaCheck.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)
  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  // events: (key, seconds offset in [0, 120))
  private val eventsGen: Gen[List[(String, Int)]] =
    Gen.listOfN(40, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 119)))

  private def toDf(evs: List[(String, Int)]) =
    evs.map { case (k, s) => (k, new Timestamp(s * 1000L)) }.toDF("k", "ts")

  test("LangPredict kernel equals the replace-arithmetic reference on random text") {
    // random strings over a mixed alphabet that includes profile-gram
    // characters from five scripts, whitespace runs, and overlap-prone
    // repetitions — the kernel's non-overlapping byte counting must agree
    // with the expression form (and therefore the generated oracle SQL)
    // on every input, not just curated fixtures
    import org.apache.spark.sql.functions.col
    val alphabet = "abcdefgh ueio .,!的是一不了ですはにのが이는다 иочтне الفيمن tThHeE"
    val textGen: Gen[String] =
      Gen.chooseNum(0, 60).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(alphabet.toSeq)).map(_.mkString))
    check(Prop.forAll(Gen.listOfN(30, textGen)) { texts =>
      texts.isEmpty || {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        docs.select(
          graft.ops.TextAnalysis.predLang(col("text")).as("k"),
          graft.ops.TextAnalysis.predLangRef(col("text")).as("r"))
          .where(col("k") =!= col("r")).count() == 0L
      }
    })
  }

  test("TokenNgrams kernel: codegen and interpreted parity with the HOF form") {
    import org.apache.spark.sql.functions._
    val tokGen: Gen[List[String]] =
      Gen.chooseNum(0, 12).flatMap(k =>
        Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d")))
    check(Prop.forAll(Gen.listOfN(20, tokGen), Gen.chooseNum(1, 4)) { (docs, n) =>
      docs.isEmpty || {
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("id", "toks")
        val hof = when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + lit(1), lit(n)), " ")))
          .otherwise(array().cast("array<string>"))
        // repartition keeps the projection out of the LocalRelation, and
        // the HOF form gets its own projection: a lambda is not generated
        // code and would take the kernel's whole stage with it
        val parts = df.repartition(1)
        val kernel = collectGenerated(parts.select(col("id"),
          graft.functions.ArrayKernels.token_ngrams(col("toks"), n),
          graft.functions.ArrayKernels.token_ngrams(col("toks"), n,
            distinct = true)).as[(Long, Seq[String], Seq[String])],
          classOf[graft.functions.ArrayKernels.TokenNgrams])
        val ref = parts.select(col("id"), hof, array_distinct(hof))
          .as[(Long, Seq[String], Seq[String])].collect()
        kernel.sortBy(_._1).toSeq == ref.sortBy(_._1).toSeq
      }
    })
    // interpreted eval — the non-codegen fallback path the DataFrame run
    // above never exercises
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val in = Literal.create(Seq("x", "y", "x", "y"), ArrayType(StringType))
    def got(distinct: Boolean): Seq[String] =
      graft.functions.ArrayKernels.TokenNgrams(in, 2, distinct).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
    assert(got(distinct = false) == Seq("x y", "y x", "x y"))
    assert(got(distinct = true) == Seq("x y", "y x"))
    assert(graft.functions.ArrayKernels.TokenNgrams(
      Literal.create(Seq("x"), ArrayType(StringType)), 2, false).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() == 0)
    // null array elements read as "" on BOTH paths (concatWs would skip
    // them interpreted; a zeroed UnsafeArrayData slot reads "" codegen'd)
    val withNull = Literal.create(Seq("a", null, "b"), ArrayType(StringType))
    assert(graft.functions.ArrayKernels.TokenNgrams(withNull, 2, false).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(StringType).map(String.valueOf).toSeq == Seq("a ", " b"))
    val dfNull = Seq((1L, Seq("a", null, "b"))).toDF("id", "toks").repartition(1)
    assert(collectGenerated(dfNull.select(
      graft.functions.ArrayKernels.token_ngrams(col("toks"), 2).as("g"))
      .as[Seq[String]], classOf[graft.functions.ArrayKernels.TokenNgrams])
      .head == Seq("a ", " b")) // codegen path agrees
  }

  test("array kernels: interpreted eval equals whole-stage codegen on random inputs") {
    // every kernel on the UnaryKernel/BinaryKernel/TernaryKernel wiring,
    // plus MinHash and ppm_dhash, which write their own generated code:
    // interpreted `eval()` row by row must equal the generated code.
    // Inputs include null rows, null tokens, empty and short arrays,
    // decomposed accents, and blobs that are (or are almost) PPM and WAV.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types._
    import graft.functions.ArrayKernels
    import graft.functions.ArrayKernels._
    def opt[T](g: Gen[T]): Gen[Option[T]] =
      Gen.frequency(1 -> Gen.const(None), 6 -> g.map(Some(_)))
    def arr[T](g: Gen[T]): Gen[Seq[T]] =
      Gen.chooseNum(0, 7).flatMap(Gen.listOfN(_, g))
    val longs = Gen.oneOf(Gen.choose(0L, 3L), Gen.choose(Long.MinValue, Long.MaxValue))
    val tok = Gen.frequency(1 -> Gen.const(null: String), 5 -> Gen.oneOf("a", "b", "c", "ab"))
    val str = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "th", "he", " ", "e\u0301", "\u00e9", "日"))
        .map(_.mkString))
    def bytes(n: Int) = Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    val ppm = for {
      w <- Gen.choose(1, 12); h <- Gen.choose(1, 10); cut <- Gen.choose(0, 2)
      px <- bytes(w * h * 3 - cut)
    } yield s"P6 $w $h 255\n".getBytes("US-ASCII") ++ px
    val wav = for { n <- Gen.choose(0, 24); pcm <- bytes(2 * n) } yield {
      val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + pcm.length).put("WAVEfmt ".getBytes)
        .putInt(16).putShort(1.toShort).putShort(1.toShort).putInt(8000).putInt(16000)
        .putShort(2.toShort).putShort(16.toShort).put("data".getBytes).putInt(pcm.length)
      bb.array() ++ pcm
    }
    val blob = Gen.oneOf(Gen.chooseNum(0, 40).flatMap(bytes), ppm, wav)
    val inGen = for {
      d1 <- opt(arr(Gen.choose(-10.0, 10.0))); d2 <- opt(arr(Gen.choose(-10.0, 10.0)))
      l1 <- opt(arr(longs)); l2 <- opt(arr(longs)); t <- opt(arr(tok)); t2 <- opt(arr(tok))
      b <- opt(blob); s <- opt(str); lane <- opt(Gen.choose(0, 3))
      syms <- opt(arr(Gen.frequency(1 -> Gen.const(null: String), 5 -> Gen.oneOf("a", "b", "c"))))
    } yield (d1, d2, l1, l2, t, t2, b, s, lane, syms)
    val (mhA, mhB) = (Array(3L, -5L, 1000003L), Array(7L, 11L, -13L))
    val pieces = Seq("a", "b", "ab", "th", "the", "\u00e9")
    val logps = Seq(-1.0, -1.5, -0.8, -1.2, -0.5, -2.0)
    val kernels: Seq[Seq[Expression] => Expression] = Seq(
      c => ArrayDotProduct(c(0), c(1)),
      c => ArrayEqCount(c(2), c(3)),
      c => SimHash64(c(2)),
      c => MinHashSignature(c(2), 3, mhA, mhB, 2147483647L),
      c => ByteHistogram(c(6), 7),
      c => DeflateRatio(c(6)),
      c => DeflateRatio(c(7)),
      c => PpmDHash(c(6)),
      c => PpmPatchMeans(c(6), 4),
      c => WavFrameRms(c(6), 5),
      c => MediaHeader(c(6)),
      c => LangPredict(c(7), Seq("en" -> Seq("th", "he"), "xx" -> Seq("ab", "c"))),
      c => TokenNgrams(c(4), 3, distinct = false),
      c => TokenNgrams(c(4), 2, distinct = true),
      c => NfcNormalize(c(7)),
      c => BpeSegmentIds(c(7), Seq("ab", "a", "th")),
      c => SignedRandomProject(c(0), 5, 3, "p"),
      c => HashEmbedEntries(c(4), 8),
      c => HashCountEntries(c(4), 8),
      c => HashEmbedDense(c(4), 8),
      c => CharEntropy(c(7)),
      c => BpeMergePair(c(9), "a", "b"),
      c => BpeMergeEncode(c(7), Seq("a" -> "b", "t" -> "h", "th" -> "e")),
      c => UnigramViterbi(c(7), pieces, logps, -5.0),
      c => UnigramExpectedCounts(c(7), pieces, logps, -5.0),
      c => UnigramExpectedCounts(c(7), pieces, logps, -5.0, quantize = true),
      c => UnigramSample(c(7), pieces, logps, -5.0, 17L, 0.5),
      c => Poisson1Weight(c(7), c(8), Seq(0.2, 0.5, 0.9)),
      c => TokenLcsLen(c(4), c(5)),
      c => TokenEditDist(c(4), c(5)),
      c => TerShiftStats(c(4), c(5), 3),
      c => CharNgramCounts(c(7), 2),
      c => TokenNgramCounts(c(4), 2),
      c => GramMaxMerge(CharNgramCounts(c(7), 1), TokenNgramCounts(c(5), 1)),
      c => GramClipStats(TokenNgramCounts(c(4), 1), TokenNgramCounts(c(5), 1)),
      c => GopherRepStats(c(4), c(5), c(4)),
      c => GopherRepStats(c(4), c(5), c(5), lite = true))
    val names = Seq("d1", "d2", "l1", "l2", "t", "t2", "b", "s", "lane", "syms")
    check(Prop.forAll(Gen.listOfN(40, inGen)) { rows =>
      val df = rows.zipWithIndex.map { case ((d1, d2, l1, l2, t, t2, b, s, lane, syms), i) =>
        (i.toLong, d1, d2, l1, l2, t, t2, b, s, lane, syms)
      }.toDF("id" +: names: _*)
      val cols = names.map(n => org.apache.spark.sql.GraftSqlBridge.expression(col(n)))
      // repartition: a projection over a local Seq is folded into the
      // LocalRelation (interpreted) and never reaches codegen
      val out = df.repartition(1).select(col("id") +:
        kernels.map(k => org.apache.spark.sql.GraftSqlBridge.column(k(cols))): _*)
      val generated = collectGenerated(out, classOf[ArrayKernels.GopherRepStats])
        .sortBy(_.getLong(0))
      val types = df.schema.map(_.dataType).tail
      generated.length == rows.length && rows.zip(generated).forall { case (r, g) =>
        val lits = r.productIterator.toSeq.zip(types).map { case (v, dt) =>
          Literal.create(v.asInstanceOf[Option[Any]].orNull, dt): Expression
        }
        kernels.indices.forall { i =>
          val e = kernels(i)(lits)
          val interpreted = CatalystTypeConverters.convertToScala(e.eval(), e.dataType)
          interpreted == g.get(i + 1) ||
            { println(s"kernel $i: $interpreted != ${g.get(i + 1)} on $r"); false }
        }
      }
    })
  }

  test("tumbling windows conserve the event count") {
    check(Prop.forAll(eventsGen) { evs =>
      evs.isEmpty || {
        val total = Windowing.tumblingCount(toDf(evs), "ts", "7 seconds")
          .agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].head()
        total == evs.size
      }
    })
  }

  test("sliding windows hold each event exactly size/slide times") {
    check(Prop.forAll(eventsGen) { evs =>
      evs.isEmpty || {
        val total = Windowing.slidingCount(toDf(evs), "ts", "12 seconds", "3 seconds")
          .agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].head()
        total == evs.size * 4L
      }
    })
  }

  test("union cardinality is additive") {
    check(Prop.forAll(eventsGen, eventsGen) { (e1, e2) =>
      toDf(e1).union(toDf(e2)).count() == (e1.size + e2.size).toLong
    })
  }

  test("interval join is symmetric under side swap") {
    check(Prop.forAll(eventsGen, eventsGen) { (e1, e2) =>
      val a = toDf(e1).withColumn("id",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      val b = toDf(e2).withColumn("id",
        org.apache.spark.sql.functions.monotonically_increasing_id() + 1000000)
      val ab = Joins.intervalJoin(a, b, "k", "ts", "id", "5 SECONDS")
        .as[(Long, Long)].collect().toSet
      val ba = Joins.intervalJoin(b, a, "k", "ts", "id", "5 SECONDS")
        .as[(Long, Long)].collect().map(_.swap).toSet
      ab == ba
    })
  }

  // ---- round-2 operators ----

  private val idsGen: Gen[List[Long]] =
    Gen.listOfN(60, Gen.choose(0L, 100000L)).map(_.distinct)

  private def idDf(ids: List[Long]) = ids.toDF("doc_id")

  test("hash samples nest across any rate pair (same salt)") {
    check(Prop.forAll(idsGen, Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) {
      (ids, r1, r2) =>
        ids.isEmpty || {
          val lo = math.min(r1, r2); val hi = math.max(r1, r2)
          val small = graft.ops.Sampling.hashSample(idDf(ids), "doc_id", lo)
            .as[Long].collect().toSet
          val big = graft.ops.Sampling.hashSample(idDf(ids), "doc_id", hi)
            .as[Long].collect().toSet
          small.subsetOf(big)
        }
    })
  }

  test("hash split partitions every row into exactly one split for any rates") {
    check(Prop.forAll(idsGen, Gen.choose(0.0, 0.9)) { (ids, train) =>
      ids.isEmpty || {
        val valid = (1.0 - train) / 2
        val got = graft.ops.Sampling.hashSplit(idDf(ids), "doc_id", train, valid)
        got.count() == ids.size.toLong &&
          got.groupBy("doc_id").count().where($"count" > 1).isEmpty
      }
    })
  }

  test("near-dup clusters: every member maps to the component minimum") {
    val pairsGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L))).map(_.filter(p => p._1 != p._2))
    check(Prop.forAll(pairsGen) { ps =>
      ps.isEmpty || {
        // force the DISTRIBUTED path: the reference below is itself a
        // union-find, so routing through the driver fast path would make
        // this test vacuous
        val got = graft.ops.Dedup.nearDupClusters(
            ps.toDF("a_id", "b_id"), driverFastPathEdges = 0)
          .as[(Long, Long)].collect().toMap
        // reference fixpoint via driver-side union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        ps.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expect = parent.keys.map(k => k -> find(k)).toMap
        got == expect
      }
    })
  }

  test("token-budget packing conserves docs and respects the budget") {
    val docsGen = Gen.listOfN(30, Gen.choose(1, 15))
    check(Prop.forAll(docsGen, Gen.choose(10L, 60L)) { (lens, budget) =>
      lens.isEmpty || {
        val docs = lens.zipWithIndex.map { case (n, i) =>
          (i.toLong, (1 to n).map(j => s"w$j").mkString(" "), "x")
        }.toDF("doc_id", "text", "lang")
        val got = graft.ops.Packing.packByTokenBudget(docs, budget, parts = 3)
          .as[(Long, Long, Long)].collect()
        val conserved = got.map(_._1).sorted.toSeq == lens.indices.map(_.toLong)
        val bounded = got.groupBy(_._3).values.forall { shard =>
          shard.map(_._2).sum <= budget || shard.length == 1
        }
        conserved && bounded
      }
    })
  }

  test("bpeSegmentCount matches a plain-Scala greedy longest-match") {
    import graft.ops.TextAnalysis
    val vocab = TextAnalysis.BPE_VOCAB
    def ref(w: String): Int = {
      var pos = 0; var cnt = 0
      while (pos < w.length) {
        val best = vocab.filter(v => w.startsWith(v, pos)).map(_.length)
          .maxOption.getOrElse(1)
        pos += best; cnt += 1
      }
      cnt
    }
    val wordGen = Gen.listOfN(30,
      Gen.chooseNum(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)))
    check(Prop.forAll(wordGen) { ws =>
      ws.isEmpty || {
        val got = ws.distinct.toDF("word")
          .select($"word", TextAnalysis.bpeSegmentCount($"word").as("n"))
          .as[(String, Int)].collect().toMap
        ws.distinct.forall(w => got(w) == ref(w))
      }
    })
  }

  test("repetition scores match plain-Scala token statistics") {
    import graft.ops.TextAnalysis
    // Spark's round() is HALF_UP; math.rint would be HALF_EVEN
    def round4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val textGen = Gen.listOfN(20, Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" "))))
    check(Prop.forAll(textGen) { texts =>
      texts.isEmpty || {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "x") }
          .toDF("doc_id", "text", "lang")
        val got = TextAnalysis.repetitionScores(docs)
          .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
        texts.zipWithIndex.forall { case (t, i) =>
          val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
          val top = if (toks.isEmpty) 0.0
            else toks.groupBy(identity).values.map(_.size).max.toDouble / toks.size
          val sh = toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
          val dup = if (sh.isEmpty) 0.0
            else (sh.size - sh.distinct.size).toDouble / sh.size
          got(i.toLong) == ((round4(top), round4(dup)))
        }
      }
    })
  }

  test("as-of join matches the brute-force latest-at-or-before per key") {
    // right rows get unique ts per key (the documented determinism
    // precondition — callers pre-aggregate ties)
    val sidesGen = Gen.zip(
      Gen.listOfN(25, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 60))),
      Gen.listOfN(25, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 60))))
    check(Prop.forAll(sidesGen) { case (ls, rsRaw) =>
      val rs = rsRaw.distinct.groupBy(_._1).toList.flatMap { case (k, es) =>
        es.map(_._2).distinct.map(k -> _)
      }
      ls.isEmpty || rs.isEmpty || {
        val left = ls.zipWithIndex
          .map { case ((k, t), i) => (k, t.toLong, i.toLong) }.toDF("k", "t", "lid")
        val right = rs.map { case (k, t) => (k, t.toLong, s"$k@$t") }.toDF("k", "t", "rv")
        val got = Joins.asofJoin(left, right, "k", "t", "lid", "rv")
          .select("lid", "rv").as[(Long, String)].collect().toMap
        val expected = ls.zipWithIndex.flatMap { case ((k, t), i) =>
          rs.filter { case (rk, rt) => rk == k && rt <= t }
            .sortBy(_._2).lastOption.map { case (rk, rt) => i.toLong -> s"$rk@$rt" }
        }.toMap
        got == expected
      }
    })
  }

  test("scrubContamination equals a reference span-removal on random corpora") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Core, Decontam}
    // small vocabulary so eval trigrams really collide with train docs
    val docGen: Gen[String] = Gen.chooseNum(0, 10).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    check(Prop.forAll(Gen.listOfN(12, docGen), Gen.listOfN(3, docGen)) {
      (trainTexts, evalTexts) =>
        val train = trainTexts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val eval = evalTexts.zipWithIndex
          .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
        val got = Decontam
          .scrubContamination(train, eval, "doc_id", "text", n = 3)
          .as[(Long, Long, Long, String)].collect()
          .map(r => r._1 -> r).toMap
        // reference: plain Scala span removal over the same tokenization
        def toks(s: String) = s.split("[^\\p{L}\\p{Nd}]+")
          .filter(_.nonEmpty).map(_.toLowerCase).toSeq
        val evalGrams = evalTexts.flatMap(t => toks(t).sliding(3))
          .filter(_.length == 3).map(_.mkString(" ")).toSet
        trainTexts.zipWithIndex.forall { case (t, i) =>
          val ts = toks(t)
          val starts = ts.sliding(3).zipWithIndex.collect {
            case (g, p) if g.length == 3 && evalGrams(g.mkString(" ")) => p
          }.toSeq
          val covered = starts.flatMap(s => s until s + 3).toSet
          val expText =
            if (starts.isEmpty) t
            else ts.zipWithIndex.collect {
              case (tok, j) if !covered(j) => tok
            }.mkString(" ")
          val (_, nh, nr, txt) = got(i.toLong)
          nh == starts.length && nr == covered.size.toLong && txt == expText
        }
    })
  }

  test("bpeLearn + bpeEncodeLearned equal a sequential reference on random corpora") {
    import org.apache.spark.sql.functions.{col, explode, lit, count}
    import graft.ops.TextAnalysis
    // the reference re-implements the TEXTBOOK algorithm sequentially
    // (Sennrich et al.): pair counts weighted by word freq, argmax with
    // (count desc, left asc, right asc) tie-break, left-to-right merge
    def splitCp(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + cc); i += cc
      }
      b.result()
    }
    def mergeOnce(s: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += l + r; i += 2 }
        else { b += s(i); i += 1 }
      }
      b.result()
    }
    def refLearn(freqs: Map[String, Long], n: Int,
        minFreq: Long): List[(String, String, Long)] = {
      var dict = freqs.toList.map { case (w, f) => (splitCp(w), f) }
      val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
      var done = false
      while (out.size < n && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        dict.foreach { case (syms, f) =>
          var i = 0
          while (i + 1 < syms.length) {
            counts((syms(i), syms(i + 1))) += f; i += 1
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
          if (c < minFreq) done = true
          else {
            out += ((l, r, c))
            dict = dict.map { case (s, f) => (mergeOnce(s, l, r), f) }
          }
        }
      }
      out.toList
    }
    // small alphabet + repeated bigrams so merges genuinely fire; the
    // occasional digit/punct exercises the pre-tokenizer's other branches
    val wordGen: Gen[String] = Gen.chooseNum(1, 5).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c", "ab", "7", ".")).map(_.mkString))
    val docGen: Gen[String] = Gen.chooseNum(0, 8).flatMap(k =>
      Gen.listOfN(k, wordGen).map(_.mkString(" ")))
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val p = Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // shared tokenization isolates the property to the LEARNING step
      val freqs = docs
        .select(explode(TextAnalysis.bpeTokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .as[(String, Long)].collect().toMap
      val gotMerges = TextAnalysis
        .bpeLearn(docs, nMerges = 5, checkpointEvery = 2)
        .orderBy("rank")
        .select("left", "right", "cnt")
        .as[(String, String, Long)].collect().toList
      val expMerges = refLearn(freqs, 5, 2L)
      val mergeRules = expMerges.map(m => (m._1, m._2))
      val enc = TextAnalysis.bpeEncodeLearned(docs, mergeRules)
        .select("word", "pieces").as[(String, Seq[String])].collect()
      gotMerges == expMerges &&
        enc.forall { case (w, pieces) =>
          val exp = mergeRules.foldLeft(splitCp(w))((s, m) =>
            mergeOnce(s, m._1, m._2))
          pieces == exp && pieces.mkString == w // lossless round trip
        }
    }
    val r = SCTest.check(few, p)
    assert(r.passed, r.status.toString)
  }

  test("unigramLearn + unigramEncodeLearned equal a sequential reference") {
    import org.apache.spark.sql.functions.{col, explode, lit, count}
    import graft.ops.TextAnalysis
    // the reference re-implements Viterbi-EM sequentially: same seed
    // (alphabet + top freq-weighted substrings), same hard E-step (longest
    // piece wins score ties), same M-step (alphabet floors at 1, top-n
    // multi prune), same final ranking
    def splitCp(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + cc); i += cc
      }
      b.result()
    }
    def refViterbi(w: String, model: Map[String, Double],
        unk: Double): Vector[String] = {
      val cps = splitCp(w)
      val n = cps.length
      if (n == 0) return Vector.empty
      val maxLen = model.keys.map(p => splitCp(p).length).max
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = new Array[Int](n + 1)
      best(0) = 0.0
      for (i <- 1 to n; j <- math.max(0, i - maxLen) until i
          if best(j) != Double.NegativeInfinity) {
        val piece = cps.slice(j, i).mkString
        val step = model.get(piece) match {
          case Some(lp) => lp
          case None if i - j == 1 => unk
          case None => Double.NegativeInfinity
        }
        if (step != Double.NegativeInfinity && best(j) + step > best(i)) {
          best(i) = best(j) + step; back(i) = j
        }
      }
      var pos = n
      val out = List.newBuilder[String]
      val rev = scala.collection.mutable.ListBuffer.empty[String]
      while (pos > 0) { rev.prepend(cps.slice(back(pos), pos).mkString); pos = back(pos) }
      out ++= rev
      out.result().toVector
    }
    val unk = -25.0
    def refLearn(freqs: Map[String, Long], vocabSize: Int, seedMaxLen: Int,
        seedMult: Int, emIters: Int): Seq[(Int, String, Long, Double)] = {
      val subCnt = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      freqs.foreach { case (w, f) =>
        val cps = splitCp(w)
        for (i <- cps.indices;
             l <- 1 to math.min(seedMaxLen, cps.length - i))
          subCnt(cps.slice(i, i + l).mkString) += f
      }
      val alphabet = subCnt.toSeq.filter(e => splitCp(e._1).length == 1)
      val alphaSet = alphabet.map(_._1).toSet
      var entries: Seq[(String, Long)] = alphabet ++ subCnt.toSeq
        .filter(e => splitCp(e._1).length >= 2)
        .sortBy { case (p, c) => (-c, p) }.take(seedMult * vocabSize)
      val nMulti = math.max(vocabSize - alphabet.size, 0)
      def model(es: Seq[(String, Long)]): Map[String, Double] = {
        val total = es.map(_._2).sum.toDouble
        es.map { case (p, c) => p -> math.log(c / total) }.toMap
      }
      for (_ <- 1 to emIters) {
        val m = model(entries)
        val used = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        freqs.foreach { case (w, f) =>
          refViterbi(w, m, unk).foreach(p => used(p) += f)
        }
        entries = alphabet.map { case (p, _) =>
          (p, math.max(used(p), 1L)) } ++
          used.toSeq.filter { case (p, _) => !alphaSet(p) }
            .sortBy { case (p, c) => (-c, p) }.take(nMulti)
      }
      val kept = entries.filter(e => alphaSet(e._1)) ++
        entries.filter(e => !alphaSet(e._1))
          .sortBy { case (p, c) => (-c, p) }.take(nMulti)
      val m = model(kept)
      kept.sortBy { case (p, c) => (-c, p) }.zipWithIndex.map {
        case ((p, c), i) => (i + 1, p, c, m(p))
      }
    }
    val wordGen: Gen[String] = Gen.chooseNum(1, 6).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "ab", "ba", "7", ".")).map(_.mkString))
    val docGen: Gen[String] = Gen.chooseNum(0, 8).flatMap(k =>
      Gen.listOfN(k, wordGen).map(_.mkString(" ")))
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val p = Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val freqs = docs
        .select(explode(TextAnalysis.bpeTokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .as[(String, Long)].collect().toMap
      freqs.isEmpty || {
        val got = TextAnalysis
          .unigramLearn(docs, vocabSize = 12, seedMaxLen = 3,
            seedMult = 2, emIters = 2)
          .orderBy("rank")
          .as[(Int, String, Long, Double)].collect().toSeq
        val exp = refLearn(freqs, 12, 3, 2, 2)
        val learnOk = got.length == exp.length &&
          got.zip(exp).forall { case ((gr, gp, gc, glp), (er, ep, ec, elp)) =>
            gr == er && gp == ep && gc == ec && math.abs(glp - elp) < 1e-6
          }
        val m = exp.map(e => (e._2, e._4))
        val refM = m.toMap
        val enc = TextAnalysis.unigramEncodeLearned(docs, m)
          .select("word", "pieces").as[(String, Seq[String])].collect()
        learnOk && enc.forall { case (w, pieces) =>
          pieces == refViterbi(w, refM, unk) && pieces.mkString == w
        }
      }
    }
    val r = SCTest.check(few, p)
    assert(r.passed, r.status.toString)
  }

  test("unigram Viterbi: compositional fixture, tie-to-longest, unk fallback") {
    import org.apache.spark.sql.functions.col
    import graft.ops.TextAnalysis
    // a corpus dominated by the bigram "ab" must learn an "ab"-built piece
    // and use it: the max-likelihood segmentation of "ababab" spends
    // multi-char pieces, never letter-by-letter singles
    val docs = (0L until 20L).map(i => (i, "abab abab ababab xy"))
      .toDF("doc_id", "text")
    val learned = TextAnalysis.unigramLearn(docs, vocabSize = 8, emIters = 2)
    val model = TextAnalysis.unigramModelOf(learned)
    assert(model.exists { case (p, _) => p.contains("ab") && p.length >= 2 })
    // pre-tokens keep their leading space (the GPT-2 convention bpeTokens
    // follows), so the corpus word is " ababab"
    val (word, seg) = TextAnalysis.unigramEncodeLearned(docs, model)
      .where(org.apache.spark.sql.functions.trim(col("word")) === "ababab")
      .select("word", "pieces").as[(String, Seq[String])].head()
    assert(seg.mkString == word && seg.length < word.length,
      s"expected multi-char pieces, got $seg")
    // exact score tie between ["ab"] and ["a","b"] resolves to the
    // LONGEST piece (strict-improvement DP keeps the earlier, longer span)
    val tied = Seq(("ab", -1.0), ("a", -0.5), ("b", -0.5))
    val one = Seq((0L, "ab")).toDF("doc_id", "text")
    val gotTied = TextAnalysis.unigramEncodeLearned(one, tied)
      .select("pieces").as[Seq[String]].head()
    assert(gotTied == Seq("ab"), s"tie must go to the longest piece: $gotTied")
    // out-of-alphabet code points (here supplementary-plane) fall back to
    // single-cp unk steps and still round-trip
    val emoji = Seq((0L, "ab😀ab")).toDF("doc_id", "text")
    val gotUnk = TextAnalysis.unigramEncodeLearned(emoji, tied)
      .select("pieces").as[Seq[String]].collect()
    assert(gotUnk.forall(_.mkString.nonEmpty))
    val full = gotUnk.map(_.mkString).sorted.mkString(" ")
    assert(full.contains("😀"),
      s"supplementary-plane char must survive as its own piece: $full")
  }

  test("unigram expected counts: forward-backward reference parity + char-mass conservation") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ArrayKernels
    def splitCp(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + cc); i += cc
      }
      b.result()
    }
    // independent sequential forward-backward over the same lattice
    def refEc(w: String, model: Map[String, Double],
        unk: Double): Map[String, Double] = {
      val cps = splitCp(w); val n = cps.length
      if (n == 0) return Map.empty
      val maxLen = model.keys.map(p => splitCp(p).length).max
      def step(j: Int, i: Int): Double = {
        val piece = cps.slice(j, i).mkString
        model.get(piece) match {
          case Some(lp) => lp
          case None if i - j == 1 => unk
          case None => Double.NegativeInfinity
        }
      }
      def ladd(a: Double, b: Double): Double =
        if (a == Double.NegativeInfinity) b
        else if (b == Double.NegativeInfinity) a
        else if (a >= b) a + math.log1p(math.exp(b - a))
        else b + math.log1p(math.exp(a - b))
      val al = Array.fill(n + 1)(Double.NegativeInfinity); al(0) = 0.0
      for (i <- 1 to n; j <- math.max(0, i - maxLen) until i
          if al(j) != Double.NegativeInfinity && step(j, i) != Double.NegativeInfinity)
        al(i) = ladd(al(i), al(j) + step(j, i))
      val be = Array.fill(n + 1)(Double.NegativeInfinity); be(n) = 0.0
      for (j <- (n - 1) to 0 by -1; i <- (j + 1) to math.min(n, j + maxLen)
          if be(i) != Double.NegativeInfinity && step(j, i) != Double.NegativeInfinity)
        be(j) = ladd(be(j), step(j, i) + be(i))
      val z = al(n)
      val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (j <- 0 until n; i <- (j + 1) to math.min(n, j + maxLen)
          if al(j) != Double.NegativeInfinity && be(i) != Double.NegativeInfinity &&
            step(j, i) != Double.NegativeInfinity)
        m(cps.slice(j, i).mkString) += math.exp(al(j) + step(j, i) + be(i) - z)
      m.toMap
    }
    val model = Seq(("ab", -0.7), ("ba", -0.9), ("aba", -1.4),
      ("a", -1.2), ("b", -1.5))
    val refM = model.toMap
    val wordGen: Gen[String] = Gen.chooseNum(1, 10).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "c")).map(_.mkString))
    check(Prop.forAll(Gen.listOfN(12, wordGen)) { words =>
      val df = words.distinct.toDF("word")
      val got = df.select(col("word"),
          ArrayKernels.unigram_expected_counts(col("word"),
            model.map(_._1), model.map(_._2), -25.0).as("e"))
        .as[(String, Seq[(String, Double)])].collect().toMap
      words.distinct.forall { w =>
        val exp = refEc(w, refM, -25.0)
        val g = got(w).toMap
        val parity = exp.keySet == g.keySet && exp.forall { case (p, e) =>
          math.abs(g(p) - e) < 1e-9 }
        // every segmentation covers every code point exactly once, so
        // expected piece char-mass sums to the word length EXACTLY
        val mass = g.map { case (p, e) => e * p.codePointCount(0, p.length) }.sum
        parity && math.abs(mass - w.codePointCount(0, w.length)) < 1e-9
      }
    })
    // single-path degenerate case: a singles-only model makes ec an
    // exact occurrence count
    val singles = Seq(("a", -1.0), ("b", -1.0))
    val one = Seq(("abab")).toDF("word")
      .select(ArrayKernels.unigram_expected_counts(col("word"),
        singles.map(_._1), singles.map(_._2), -25.0).as("e"))
      .as[Seq[(String, Double)]].head().toMap
    assert(math.abs(one("a") - 2.0) < 1e-12 && math.abs(one("b") - 2.0) < 1e-12)
  }

  test("GopherRepStats kernel ≡ a sequential reference on random " +
      "repetitive corpora (all 21 fields)") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ArrayKernels
    def nc(s: String): Long = s.codePointCount(0, s.length).toLong
    def refStats(toks: Vector[String], lines: Vector[String],
        paras: Vector[String]): Vector[Long] = {
      val dtok = toks.map(nc).sum
      def unit(a: Vector[String]) = {
        val m = a.groupBy(identity).map { case (k, v) => k -> v.length }
        Vector(a.length.toLong, m.size.toLong, a.map(nc).sum,
          m.map { case (k, c) => (c - 1).toLong * nc(k) }.sum)
      }
      def grams(n: Int) = toks.sliding(n).filter(_.length == n).toVector
      def top(n: Int): Long = {
        val g = grams(n)
        if (g.isEmpty) 0L
        else {
          val counts = g.groupBy(identity).map { case (k, v) => k -> v.length }
          val mx = counts.values.max
          mx.toLong * counts.collect {
            case (k, c) if c == mx => k.map(nc).sum }.max
        }
      }
      def dup(n: Int): Long = {
        val g = grams(n)
        if (g.isEmpty) 0L
        else {
          val counts = g.groupBy(identity).map { case (k, v) => k -> v.length }
          val covered = Array.fill(toks.length)(false)
          g.zipWithIndex.foreach { case (w, s) =>
            if (counts(w) >= 2) (s until s + n).foreach(covered(_) = true) }
          covered.zipWithIndex.collect {
            case (true, i) => nc(toks(i)) }.sum
        }
      }
      Vector(dtok) ++ unit(lines) ++ unit(paras) ++
        Vector(top(2), top(3), top(4)) ++
        (5 to 10).map(dup).toVector ++
        Vector(toks.length.toLong,
          if (toks.isEmpty) 0L
          else toks.groupBy(identity).map(_._2.length).max.toLong,
          if (toks.length < 3) 0L
          else (toks.length - 2).toLong - grams(3).distinct.length)
    }
    val rnd = new scala.util.Random(53)
    // repetitive alphabet + an astral token so codepoint counting is
    // exercised; empty-corpus row included
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "😀x")
    def toksOf(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.length)))
    def unitsOf(n: Int) = Vector.fill(n)(
      Vector("l1", "l2", "longer line", "l1")(rnd.nextInt(4)))
    val rows = (0L until 100L).map { i =>
      (i, toksOf(rnd.nextInt(30)), unitsOf(rnd.nextInt(6)),
        unitsOf(rnd.nextInt(4)))
    } :+ (100L, Vector.empty[String], Vector.empty[String],
      Vector.empty[String])
    val got = rows.toDF("id", "t", "l", "p")
      .select(col("id"),
        ArrayKernels.gopher_rep_stats(col("t"), col("l"), col("p")).as("s"))
      .selectExpr("id", "s.*")
      .collect()
      .map(r => r.getLong(0) -> (1 until 22).map(r.getLong).toVector)
      .toMap
    rows.foreach { case (i, t, l, pp) =>
      assert(got(i) == refStats(t, l, pp), s"row $i")
    }
    // lite mode: the repetitionScores fields agree with the full pass,
    // gopher gram slots read zero
    val lite = rows.toDF("id", "t", "l", "p")
      .select(col("id"), ArrayKernels.gopher_rep_stats(
        col("t"), col("l"), col("p"), lite = true).as("s"))
      .selectExpr("id", "s.*").collect()
      .map(r => r.getLong(0) -> (1 until 22).map(r.getLong).toVector).toMap
    rows.foreach { case (i, t, l, pp) =>
      val full = refStats(t, l, pp)
      val want = full.take(9) ++ Vector.fill(9)(0L) ++ full.takeRight(3)
      assert(lite(i) == want, s"lite row $i")
    }
  }

  test("quantized expected counts track the exact kernel; " +
      "unigramSoftEncode surfaces them per (word, piece)") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ArrayKernels
    import graft.ops.TextAnalysis
    val model = Seq(("ab", -0.7), ("ba", -0.9), ("aba", -1.4),
      ("a", -1.2), ("b", -1.5))
    val words = Seq("ab", "abab", "aabba", "bbb", "x", "ababab")
    val both = words.toDF("word").select(col("word"),
        ArrayKernels.unigram_expected_counts(col("word"),
          model.map(_._1), model.map(_._2), -25.0).as("e"),
        ArrayKernels.unigram_expected_counts(col("word"),
          model.map(_._1), model.map(_._2), -25.0, quantize = true).as("q"))
      .as[(String, Seq[(String, Double)], Seq[(String, Double)])]
      .collect()
    both.foreach { case (w, exact, quant) =>
      val (em, qm) = (exact.toMap, quant.toMap)
      assert(em.keySet == qm.keySet, w)
      // q6 DP cells + 1e-9 nanomass quantization: within 2e-6 of the
      // exact posterior, and character mass still ~conserved
      em.foreach { case (p, e) =>
        assert(math.abs(qm(p) - e) < 2e-6, s"$w/$p: ${qm(p)} vs $e") }
      val mass = qm.map { case (p, e) =>
        e * p.codePointCount(0, p.length) }.sum
      assert(math.abs(mass - w.codePointCount(0, w.length)) < 1e-5, w)
    }
    // the DataFrame surface: one (word, freq, piece, ec) row per
    // kernel entry, freq from the word dictionary (bpeTokens words
    // carry their leading space — the GPT-2 pre-token convention)
    val docs = Seq((0L, "abab ab abab abab")).toDF("doc_id", "text")
    val enc = TextAnalysis.unigramSoftEncode(docs, model)
      .as[(String, Long, String, Double)].collect()
    val byWord = enc.groupBy(_._1)
    assert(byWord("abab").head._2 == 1L && byWord(" abab").head._2 == 2L)
    val kq = both.find(_._1 == "abab").get._3.toMap
    byWord("abab").foreach { case (_, _, p, ec) => assert(kq(p) == ec, p) }
  }

  test("unigram sampling: deterministic per seed, valid, posterior-calibrated") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ArrayKernels
    import org.apache.spark.unsafe.types.UTF8String
    val model = Seq(("ab", math.log(0.5)), ("a", math.log(0.2)),
      ("b", math.log(0.2)))
    val (ps, lps) = (model.map(_._1), model.map(_._2))
    def draw(w: String, seed: Long, alpha: Double = 1.0): Seq[String] = {
      val k = ArrayKernels.UnigramSample(
        org.apache.spark.sql.catalyst.expressions.Literal(w), ps, lps,
        -25.0, seed, alpha)
      val got = k.compute(UTF8String.fromString(w))
      (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
    }
    // validity + determinism across words and seeds
    for (w <- Seq("ab", "abab", "ba", "axb", "aaaa"); s <- 0L until 20L) {
      val p1 = draw(w, s)
      assert(p1.mkString == w, s"round trip broke: $w -> $p1")
      assert(p1.forall(p => model.exists(_._1 == p) ||
        p.codePointCount(0, p.length) == 1))
      assert(p1 == draw(w, s), "same (word, seed) must redraw identically")
    }
    // the noise is real: different seeds produce different segmentations
    val variants = (0L until 50L).map(s => draw("abab", s)).distinct
    assert(variants.size >= 2, s"expected segmentation variety, got $variants")
    // calibration at alpha = 1: P(["ab"]) = 0.5 / (0.5 + 0.2·0.2) ≈ 0.9259
    val n = 2000
    val hits = (0L until n.toLong).count(s => draw("ab", s) == Seq("ab"))
    val freq = hits.toDouble / n
    assert(math.abs(freq - 0.925926) < 0.03, s"posterior frequency $freq")
    // large alpha degenerates to the Viterbi segmentation (non-tied model)
    val vit = {
      val k = ArrayKernels.UnigramViterbi(
        org.apache.spark.sql.catalyst.expressions.Literal("abab"), ps, lps, -25.0)
      val got = k.compute(UTF8String.fromString("abab"))
      (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
    }
    for (s <- 0L until 30L) assert(draw("abab", s, alpha = 60.0) == vit)
    // and the DataFrame surface (unigramSampleEncode) agrees with the
    // kernel draw word-for-word at the same seed
    import graft.ops.TextAnalysis
    val docs = Seq((0L, "abab ab ba")).toDF("doc_id", "text")
    val enc = TextAnalysis.unigramSampleEncode(docs, model, seed = 7L)
      .select("word", "pieces").as[(String, Seq[String])].collect().toMap
    enc.foreach { case (w, pieces) => assert(pieces == draw(w, 7L), w) }
  }

  test("unigramLearnSoft equals a sequential full-EM reference") {
    import org.apache.spark.sql.functions.{col, explode, lit, count}
    import graft.ops.TextAnalysis
    def splitCp(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var i = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + cc); i += cc
      }
      b.result()
    }
    def refEc(w: String, model: Map[String, Double],
        unk: Double): Map[String, Double] = {
      val cps = splitCp(w); val n = cps.length
      if (n == 0) return Map.empty
      val maxLen = model.keys.map(p => splitCp(p).length).max
      def step(j: Int, i: Int): Double = {
        model.get(cps.slice(j, i).mkString) match {
          case Some(lp) => lp
          case None if i - j == 1 => unk
          case None => Double.NegativeInfinity
        }
      }
      def ladd(a: Double, b: Double): Double =
        if (a == Double.NegativeInfinity) b
        else if (b == Double.NegativeInfinity) a
        else if (a >= b) a + math.log1p(math.exp(b - a))
        else b + math.log1p(math.exp(a - b))
      val al = Array.fill(n + 1)(Double.NegativeInfinity); al(0) = 0.0
      for (i <- 1 to n; j <- math.max(0, i - maxLen) until i
          if al(j) != Double.NegativeInfinity && step(j, i) != Double.NegativeInfinity)
        al(i) = ladd(al(i), al(j) + step(j, i))
      val be = Array.fill(n + 1)(Double.NegativeInfinity); be(n) = 0.0
      for (j <- (n - 1) to 0 by -1; i <- (j + 1) to math.min(n, j + maxLen)
          if be(i) != Double.NegativeInfinity && step(j, i) != Double.NegativeInfinity)
        be(j) = ladd(be(j), step(j, i) + be(i))
      val z = al(n)
      val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (j <- 0 until n; i <- (j + 1) to math.min(n, j + maxLen)
          if al(j) != Double.NegativeInfinity && be(i) != Double.NegativeInfinity &&
            step(j, i) != Double.NegativeInfinity)
        m(cps.slice(j, i).mkString) += math.exp(al(j) + step(j, i) + be(i) - z)
      m.toMap
    }
    def q6(x: Double): Double = math.rint(x * 1e6) / 1e6
    def refLearnSoft(freqs: Map[String, Long], vocabSize: Int,
        seedMaxLen: Int, seedMult: Int, emIters: Int,
        unk: Double): Seq[(Int, String, Double, Double)] = {
      val subCnt = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      freqs.foreach { case (w, f) =>
        val cps = splitCp(w)
        for (i <- cps.indices; l <- 1 to math.min(seedMaxLen, cps.length - i))
          subCnt(cps.slice(i, i + l).mkString) += f
      }
      val alphabet = subCnt.toSeq.filter(e => splitCp(e._1).length == 1)
      val alphaSet = alphabet.map(_._1).toSet
      val nMulti = math.max(vocabSize - alphabet.size, 0)
      def model(es: Seq[(String, Double)]): Map[String, Double] = {
        val total = es.map(_._2).sum
        es.map { case (p, c) => p -> math.log(c / total) }.toMap
      }
      var entries: Seq[(String, Double)] =
        (alphabet ++ subCnt.toSeq.filter(e => splitCp(e._1).length >= 2)
          .sortBy { case (p, c) => (-c, p) }.take(seedMult * vocabSize))
          .map { case (p, c) => (p, c.toDouble) }
      for (_ <- 1 to emIters) {
        val m = model(entries)
        val used = scala.collection.mutable.Map.empty[String, Double]
          .withDefaultValue(0.0)
        freqs.foreach { case (w, f) =>
          refEc(w, m, unk).foreach { case (p, e) => used(p) += e * f }
        }
        entries = alphabet.map { case (p, _) =>
          (p, math.max(q6(used(p)), 1.0)) } ++
          used.toSeq.filter { case (p, _) => !alphaSet(p) }
            .map { case (p, c) => (p, q6(c)) }
            .sortBy { case (p, c) => (-c, p) }.take(nMulti)
      }
      val kept = entries.filter(e => alphaSet(e._1)) ++
        entries.filter(e => !alphaSet(e._1))
          .sortBy { case (p, c) => (-c, p) }.take(nMulti)
      val m = model(kept)
      kept.sortBy { case (p, c) => (-c, p) }.zipWithIndex.map {
        case ((p, c), i) => (i + 1, p, c, m(p))
      }
    }
    val wordGen: Gen[String] = Gen.chooseNum(1, 6).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "b", "ab", "ba", "7", ".")).map(_.mkString))
    val docGen: Gen[String] = Gen.chooseNum(0, 8).flatMap(k =>
      Gen.listOfN(k, wordGen).map(_.mkString(" ")))
    val few = SCTest.Parameters.default.withMinSuccessfulTests(4)
    val p = Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val freqs = docs
        .select(explode(TextAnalysis.bpeTokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .as[(String, Long)].collect().toMap
      freqs.isEmpty || {
        val got = TextAnalysis
          .unigramLearnSoft(docs, vocabSize = 12, seedMaxLen = 3,
            seedMult = 2, emIters = 2)
          .orderBy("rank")
          .as[(Int, String, Double, Double)].collect().toSeq
        val exp = refLearnSoft(freqs, 12, 3, 2, 2, -25.0)
        got.length == exp.length &&
          got.zip(exp).forall { case ((gr, gp, gc, glp), (er, ep, ec, elp)) =>
            gr == er && gp == ep && math.abs(gc - ec) < 1e-4 &&
              math.abs(glp - elp) < 1e-5
          }
      }
    }
    val r = SCTest.check(few, p)
    assert(r.passed, r.status.toString)
    // the compositional fixture: full EM also finds the "ab" structure
    val docs = (0L until 20L).map(i => (i, "abab abab ababab xy"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.unigramLearnSoft(docs, vocabSize = 8, emIters = 2)
      .select("piece", "logp").as[(String, Double)].collect()
    assert(m.exists { case (p, _) => p.contains("ab") && p.length >= 2 })
  }

  test("unigramDocStats: per-doc budget matches the dictionary form, streams as-is") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "abab abab xy"), (2L, "ab"), (3L, ""), (4L, "abababab"))
      .toDF("doc_id", "text")
    val model = Seq(("ab", -1.0), ("a", -2.0), ("b", -2.0))
    val got = TextAnalysis.unigramDocStats(docs, model)
      .as[(Long, Int, Int, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // reference: per-word segment lengths under the same model via the
    // dictionary form (same kernel, join shape) — the two public paths
    // must price a document identically
    val byWord = TextAnalysis.unigramEncodeLearned(docs, model)
      .select("word", "n_pieces").as[(String, Int)].collect().toMap
    val words = docs
      .select(col("doc_id"), explode(TextAnalysis.bpeTokens(col("text"))).as("w"))
      .as[(Long, String)].collect().groupBy(_._1)
    for ((id, ws) <- words) {
      val expPieces = ws.map { case (_, w) => byWord(w) }.sum
      val (_, nw, np, fert) = got(id)
      assert(nw == ws.length && np == expPieces, s"doc $id: $nw/$np vs $expPieces")
      assert(fert.contains(BigDecimal(np.toDouble / nw)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    // empty doc: zero words, zero pieces, NULL fertility
    assert(got(3L) == ((3L, 0, 0, None)))
    // stateless ⇒ append-mode streamable unchanged (the dsirScores form)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)](95, spark, None)
    val q = TextAnalysis.unigramDocStats(in.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("uni_stats_serve")
      .outputMode("append").start()
    try {
      in.addData((1L, "abab abab xy"), (4L, "abababab"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("uni_stats_serve")
      .as[(Long, Int, Int, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(streamed(1L) == got(1L) && streamed(4L) == got(4L))
  }

  test("fimTransform reassembles to the original tokens on random docs") {
    import graft.ops.Packing
    val docGen: Gen[String] = Gen.chooseNum(0, 15).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("p", "q", "r", "s")).map(_.mkString(" ")))
    check(Prop.forAll(Gen.listOfN(15, docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Packing.fimTransform(df, fimRate = 1.0)
        .as[(Long, Int, String)].collect()
      got.forall { case (id, fim, out) =>
        val orig = texts(id.toInt).split(" ").filter(_.nonEmpty).toSeq
        if (fim == 0) orig.isEmpty // rate 1.0: only empty docs pass through
        else {
          val o = out.split(" ").toSeq
          val ip = o.indexOf("<fim_prefix>")
          val is = o.indexOf("<fim_suffix>")
          val im = o.indexOf("<fim_middle>")
          ip == 0 && is > ip && im > is &&
            (o.slice(ip + 1, is) ++ o.drop(im + 1) ++ o.slice(is + 1, im)) == orig
        }
      }
    })
  }

  test("TerShiftStats kernel ≡ a sequential greedy reference; " +
      "shift form bounded above by shift-free edit distance; " +
      "pure block move costs exactly one shift") {
    import org.apache.spark.sql.functions.col
    import graft.functions.ArrayKernels
    def editDist(a: Vector[String], b: Vector[String]): Int = {
      val m = b.length
      var prev = (0 to m).toArray
      for (i <- a.indices) {
        val cur = new Array[Int](m + 1)
        cur(0) = i + 1
        for (j <- 1 to m) {
          val sub = prev(j - 1) + (if (a(i) == b(j - 1)) 0 else 1)
          cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
        }
        prev = cur
      }
      prev(m)
    }
    // the kernel's documented greedy loop, in plain Scala: best
    // strictly-net-improving verbatim-match block move per round,
    // first-found on ties (start asc, len asc, refpos asc)
    def refShift(c0: Vector[String], r: Vector[String],
        maxLen: Int): (Long, Long) = {
      var cur = c0
      var best = editDist(cur, r)
      var shifts = 0L
      var go = best > 1
      while (go) {
        go = false
        var bestGain = 1
        var bestArr: Vector[String] = null
        for {
          start <- cur.indices
          len <- 1 to math.min(maxLen, cur.length - start)
          block = cur.slice(start, start + len)
          rp <- 0 to r.length - len
          if r.slice(rp, rp + len) == block
        } {
          val rest = cur.patch(start, Nil, len)
          val ins = math.min(rp, rest.length)
          if (ins != start) {
            val g = best - editDist(rest.patch(ins, block, 0), r)
            if (g > bestGain) {
              bestGain = g; bestArr = rest.patch(ins, block, 0)
            }
          }
        }
        if (bestArr != null) {
          cur = bestArr; best -= bestGain; shifts += 1L; go = best > 1
        }
      }
      (shifts, best.toLong)
    }
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val gen = for {
      n <- Gen.choose(0, 18)
      r <- Gen.listOfN(n, Gen.oneOf(vocab))
      cut <- Gen.choose(0, math.max(n - 1, 0))
      len <- Gen.choose(1, 4)
      ins <- Gen.choose(0, math.max(n - 1, 0))
      noise <- Gen.listOfN(2, Gen.oneOf(vocab))
    } yield {
      // candidate = reference with a random block moved + random noise
      val rv = r.toVector
      val block = rv.slice(cut, math.min(cut + len, rv.length))
      val rest = rv.patch(cut, Nil, block.length)
      (rest.patch(math.min(ins, rest.length), block ++ noise, 0), rv)
    }
    check(Prop.forAll(gen) { case (cand, ref) =>
      val got = Seq((cand, ref)).toDF("c", "r")
        .select(ArrayKernels.ter_shift_stats(col("c"), col("r"), 4).as("s"),
          ArrayKernels.token_edit_dist(col("c"), col("r")).as("wer"))
        .selectExpr("s.shifts", "s.edits", "wer")
        .as[(Long, Long, Int)].head()
      val (rs, re) = refShift(cand, ref, 4)
      got._1 == rs && got._2 == re && got._1 + got._2 <= got._3
    })
    // a pure block move: shift-free pays 4 edits here, shift form pays
    // exactly one shift and zero edits
    val moved = Seq((Vector("d", "e", "a", "b", "c"),
      Vector("a", "b", "c", "d", "e"))).toDF("c", "r")
      .select(ArrayKernels.ter_shift_stats(col("c"), col("r"), 10).as("s"),
        ArrayKernels.token_edit_dist(col("c"), col("r")).as("wer"))
      .selectExpr("s.shifts", "s.edits", "wer")
      .as[(Long, Long, Int)].head()
    assert(moved == ((1L, 0L, 4)), moved)
  }
}
