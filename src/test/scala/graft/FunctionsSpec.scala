package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.CosineSim
import graft.sources.IO

/** x01/x02/x03 — custom expression, SQL extension registration, IO
  * round-trips. */
class FunctionsSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
  }

  test("CosineSim: identical=1, orthogonal=0, parallel=1, zero-vector=0") {
    val out = vecs.select(col("id"), CosineSim(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L)) < 1e-12)
    assert(math.abs(out(3L) - 1.0) < 1e-12)
    assert(out(4L) == 0.0)
  }

  test("CosineSim interpreted eval matches codegen") {
    val expr = CosineSim(
      org.apache.spark.sql.graftbridge.GraftBridge.expression(col("a")),
      org.apache.spark.sql.graftbridge.GraftBridge.expression(col("b")))
    // codegen path (dataframe) vs interpreted nullSafeEval on same data
    val viaDf = vecs.select(CosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    val expected = Array(1.0, 0.0, 1.0, 0.0)
    viaDf.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
    assert(expr.dataType.typeName == "double")
  }

  test("graft_cosine registered as a SQL function via extensions") {
    vecs.createOrReplaceTempView("graft_vecs_x02")
    val out = spark.sql(
      "SELECT id, graft_cosine(a, b) AS cos FROM graft_vecs_x02 ORDER BY id")
      .collect()
    assert(math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(out(1).getDouble(1)) < 1e-12)
  }

  test("graft_cosine rejects non-float-array args with a type error") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_cosine('a', 'b')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_cosine"))
  }

  test("MinHash16 kernel equals the hex-substring md5 formulation") {
    // the DuckDB oracle computes conv(substr(md5(...)),16,10); the native
    // kernel must produce identical values straight from digest bytes
    val df = spark.range(50).selectExpr("concat('gram_', id, ' x y') AS gram")
      .withColumn("hs", graft.functions.MinHash16(org.apache.spark.sql.functions.col("gram")))
    val sqlForm = (0 until 16).map(s =>
      s"CAST(conv(substr(md5(concat('s', ${s / 4}, '#', gram)), ${(s % 4) * 8 + 1}, 8), 16, 10) AS LONG) AS e$s")
    val both = df.selectExpr(Seq("hs") ++ sqlForm: _*).collect()
    both.foreach { r =>
      val hs = r.getSeq[Long](0)
      (0 until 16).foreach(s => assert(hs(s) == r.getLong(s + 1), s"member $s"))
    }
  }

  test("SimHash32 kernel equals the explode/sign-sum formulation") {
    val docs = spark.range(30).selectExpr(
      "id AS doc_id",
      "array_distinct(split(concat('w', id % 7, ' x y z', id % 3, ' common words ', id), ' ')) AS ws")
    val viaKernel = docs
      .select(col("doc_id"), graft.functions.SimHash32(col("ws")).as("fp"))
    val words = docs.select(col("doc_id"), explode(col("ws")).as("w"))
      .withColumn("h", graft.functions.hash32(col("w")))
    val signCols = (0 until 32).map(b =>
      sum(expr(s"CASE WHEN shiftright(h, $b) & 1 = 1 THEN 1 ELSE -1 END")).as(s"sg$b"))
    val fpExpr = (0 until 32)
      .map(b => s"CASE WHEN sg$b > 0 THEN ${1L << b}L ELSE 0L END").mkString(" + ")
    val viaAgg = words.groupBy("doc_id").agg(signCols.head, signCols.tail: _*)
      .selectExpr("doc_id", s"CAST($fpExpr AS LONG) AS fp")
    val k = viaKernel.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaAgg.collect().foreach(r => assert(k(r.getLong(0)) == r.getLong(1), s"doc ${r.getLong(0)}"))
  }

  test("Hash32 kernel equals the hex-substring md5 formulation") {
    val df = spark.range(50).selectExpr("concat('w_', id, '!') AS s")
      .withColumn("h", graft.functions.hash32(org.apache.spark.sql.functions.col("s")))
      .selectExpr("h", "CAST(conv(substr(md5(s), 1, 8), 16, 10) AS LONG) AS e")
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("CharCounts kernel equals the two-regex formulation") {
    // includes multi-byte code points (©, é) — counted once, as punct
    val df = spark.range(50)
      .selectExpr("concat('Ab3 ', id, '!?x, yz-9 © café') AS s")
      .withColumn("cc", graft.functions.CharCounts(col("s")))
      .selectExpr("cc",
        "CAST(length(regexp_replace(s, '[^0-9]', '')) AS LONG) AS ed",
        "CAST(length(regexp_replace(s, '[a-zA-Z0-9 ]', '')) AS LONG) AS ep")
    df.collect().foreach { r =>
      val cc = r.getSeq[Long](0)
      assert(cc(0) == r.getLong(1), "digits")
      assert(cc(1) == r.getLong(2), "punct")
    }
  }

  test("x09: DiversityStats kernel equals the sorted-run HOF fold on corpus and edge rows") {
    // the corpus: every doc's [types, hapax, sumsq] must agree between
    // the primitive kernel and the portable aggregate-HOF formulation
    val corpus = graft.model.Corpus.docs(spark, sf)
      .select(col("doc_id"), col("ws"))
    // adversarial edge rows: single word, all-same, all-distinct,
    // empty-string word, unicode, interleaved runs
    val edges = spark.createDataFrame(Seq(
      (-1L, Seq("x")),
      (-2L, Seq("a", "a", "a", "a")),
      (-3L, Seq("d", "c", "b", "a")),
      (-4L, Seq("")),
      (-5L, Seq("café", "café", "©", "naïve")),
      (-6L, Seq("b", "a", "b", "a", "c", "b")))).toDF("doc_id", "ws")
    Seq(corpus, edges).foreach { df =>
      df.withColumn("k", graft.functions.DiversityStats(col("ws")))
        .withColumn("h", expr(graft.operators.TextAnalysis.diversityFoldSql))
        .collect().foreach { r =>
          assert(r.getSeq[Long](2) == r.getSeq[Long](3),
            s"kernel/fold drift on doc ${r.getLong(0)}: " +
              s"${r.getSeq[Long](2)} vs ${r.getSeq[Long](3)}")
        }
    }
    // hand-checked edge values: interleaved runs (-6): b×3, a×2, c×1
    val m6 = edges.filter(col("doc_id") === -6L)
      .select(graft.functions.DiversityStats(col("ws"))).collect().head.getSeq[Long](0)
    assert(m6 == Seq(3L, 1L, 9L + 4L + 1L), s"interleaved runs: $m6")
  }

  test("x09: graft_diversity_stats registered as a SQL function via extensions") {
    val r = spark.sql(
      "SELECT graft_diversity_stats(array('a', 'b', 'a')) AS d")
      .collect().head.getSeq[Long](0)
    assert(r == Seq(2L, 1L, 4L + 1L), s"SQL registration: $r")
  }

  test("x09: graft_diversity_stats skips null elements instead of NPEing (the r17 advice)") {
    // the registered SQL function is callable on ANY array<string>
    // (containsNull=true), so a null element must degrade
    // deterministically (ignored), never crash inside codegen
    val r = spark.sql(
      "SELECT graft_diversity_stats(array('a', NULL, 'a')) AS d")
      .collect().head.getSeq[Long](0)
    assert(r == Seq(1L, 0L, 4L), s"null-element handling: $r")
    val allNull = spark.sql(
      "SELECT graft_diversity_stats(array(CAST(NULL AS STRING))) AS d")
      .collect().head.getSeq[Long](0)
    assert(allNull == Seq(0L, 0L, 0L), s"all-null array: $allNull")
  }

  test("PrefixDotsLong equals per-cut slice dots, interpreted and codegen") {
    val cuts = Seq(8, 16, 32, 64)
    val q = graft.model.Corpus.qvecs(spark, sf).limit(40)
      .select(col("vec_id"), col("q"))
    val a = q.toDF("a_id", "qa")
    val b = q.toDF("b_id", "qb")
    val df = a.join(b, col("a_id") < col("b_id"))
      .withColumn("pd", graft.functions.PrefixDotsLong(col("qa"), col("qb"), cuts))
    val withSlices = cuts.zipWithIndex.foldLeft(df) { case (d, (c, k)) =>
      d.withColumn(s"e$k",
        graft.functions.DotLong(expr(s"slice(qa, 1, $c)"), expr(s"slice(qb, 1, $c)")))
    }
    withSlices.collect().foreach { r =>
      val pd = r.getSeq[Long](r.fieldIndex("pd"))
      cuts.indices.foreach { k =>
        assert(pd(k) == r.getLong(r.fieldIndex(s"e$k")), s"cut ${cuts(k)} differs")
      }
    }
    // x == y yields the prefix norms (the d82 per-vector hoist)
    val selfRows = q.withColumn("pn",
        graft.functions.PrefixDotsLong(col("q"), col("q"), cuts))
      .withColumn("n64", graft.functions.DotLong(col("q"), col("q")))
      .collect()
    selfRows.foreach { r =>
      val pn = r.getSeq[Long](r.fieldIndex("pn"))
      assert(pn.last == r.getLong(r.fieldIndex("n64")))
      assert(pn.zip(pn.tail).forall { case (x, y) => x <= y },
        "prefix norms must be non-decreasing")
    }
  }

  test("LutSumLong equals the aggregate-HOF ADC fold, interpreted and codegen") {
    val stride = 16
    // random-ish deterministic fixture: 40 rows of (128-entry lut,
    // 8 codes in [0, 16)) — the d80/d81 ADC shape
    val df = spark.range(0, 40)
      .selectExpr(
        "id",
        "transform(sequence(0, 127), i -> CAST(hash(id, i) AS LONG)) AS lut",
        "transform(sequence(0, 7), j -> CAST(pmod(hash(id, j, 7), 16) AS INT)) AS codes")
      .withColumn("k", graft.functions.LutSumLong(col("lut"), col("codes"), stride))
      .withColumn("h", expr(
        s"""aggregate(sequence(0, 7), CAST(0 AS LONG),
           |  (acc, j) -> acc + element_at(lut, j * $stride + element_at(codes, j + 1) + 1))""".stripMargin))
    df.collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("k")) == r.getLong(r.fieldIndex("h")),
        s"kernel != HOF fold at id=${r.getLong(0)}")
    }
    // SQL registration (x02) reaches the same kernel
    df.createOrReplaceTempView("lut_fixture")
    val viaSql = spark.sql(
      s"SELECT graft_lut_sum_long(lut, codes, $stride) AS k2, h FROM lut_fixture")
    viaSql.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // defined edge behavior: null code elements and out-of-range
    // indices contribute 0 (the family skip-null convention)
    val edge = spark.sql(
      """SELECT graft_lut_sum_long(
        |  array(CAST(10 AS LONG), CAST(20 AS LONG), CAST(30 AS LONG), CAST(40 AS LONG)),
        |  array(CAST(1 AS INT), CAST(NULL AS INT), CAST(99 AS INT)), 1) AS v""".stripMargin)
      .collect().head.getLong(0)
    assert(edge == 20L, s"null/out-of-range elements must contribute 0, got $edge")
  }

  test("PairCombos equals the slice-transform HOF combination explode, order included") {
    // the band-pair shape: sorted member arrays of varied size,
    // primitive (long) AND struct elements — pair VALUES and pair
    // ORDER must both match the HOF the kernel replaced
    val hof = "flatten(transform(ds, (a, i) -> " +
      "transform(slice(ds, i + 2, size(ds)), b -> named_struct('a', a, 'b', b))))"
    val longs = spark.range(0, 30)
      .selectExpr("id", "array_sort(transform(sequence(0, CAST(id % 7 AS INT)), " +
        "i -> CAST(hash(id, i) AS LONG))) AS ds")
      .withColumn("k", graft.functions.PairCombos(col("ds")))
      .withColumn("h", expr(hof))
    longs.collect().foreach { r =>
      assert(r.getSeq[Any](r.fieldIndex("k")) == r.getSeq[Any](r.fieldIndex("h")),
        s"kernel != HOF combos at id=${r.getLong(0)}")
    }
    val structs = spark.range(0, 30)
      .selectExpr("id", "array_sort(transform(sequence(0, CAST(id % 5 AS INT)), " +
        "i -> named_struct('doc_id', CAST(hash(id, i) AS LONG), 'fp', CAST(hash(i, id) AS LONG)))) AS ds")
      .withColumn("k", graft.functions.PairCombos(col("ds")))
      .withColumn("h", expr(hof))
    structs.collect().foreach { r =>
      assert(r.getSeq[Any](r.fieldIndex("k")) == r.getSeq[Any](r.fieldIndex("h")),
        s"kernel != HOF combos at id=${r.getLong(0)} (struct elems)")
    }
    // edges: empty and singleton arrays yield no pairs; SQL
    // registration (x02) reaches the same kernel
    val edges = spark.sql(
      """SELECT graft_pair_combos(CAST(array() AS ARRAY<BIGINT>)) AS e0,
        |       graft_pair_combos(array(CAST(7 AS BIGINT))) AS e1,
        |       graft_pair_combos(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT))) AS e2""".stripMargin)
      .collect().head
    assert(edges.getSeq[Any](0).isEmpty && edges.getSeq[Any](1).isEmpty)
    assert(edges.getSeq[org.apache.spark.sql.Row](2) ==
      Seq(org.apache.spark.sql.Row(1L, 2L)))
  }

  test("ArgminTop2Long equals the aggregate-HOF top-2 fold, with tie-break and <2-centroid edges") {
    // the assignTop2 shape: corpus vectors × one broadcast sorted
    // centroid-array row; the kernel must match the HOF fold on every
    // row, including distance ties (earlier = lower cell wins)
    val q = graft.model.Corpus.qvecs(spark, sf).limit(60).select("vec_id", "q")
    val cents = graft.operators.Similarity.centroids(spark, 7L)
    // duplicate centroid 3's vector as cell 6 → guaranteed tie rows
    val tied = cents.where(col("c") =!= 6)
      .unionByName(cents.where(col("c") === 3).select(lit(6).cast("int").as("c"), col("cv")))
    val centsArr = tied.agg(expr("array_sort(collect_list(struct(c, cv)))").as("cents"))
    val both = q.crossJoin(broadcast(centsArr))
      .withColumn("k", graft.functions.ArgminTop2Long(col("q"), col("cents")))
      .withColumn("h", expr(
        s"""aggregate(
           |  transform(cents, ce -> named_struct('d', graft_sqdist_long(q, ce.cv), 'c', ce.c)),
           |  named_struct('d1', CAST(${Long.MaxValue} AS LONG), 'c1', CAST(-1 AS INT),
           |               'd2', CAST(${Long.MaxValue} AS LONG), 'c2', CAST(-1 AS INT)),
           |  (acc, e) -> CASE
           |    WHEN e.d < acc.d1 THEN named_struct('d1', e.d, 'c1', e.c, 'd2', acc.d1, 'c2', acc.c1)
           |    WHEN e.d < acc.d2 THEN named_struct('d1', acc.d1, 'c1', acc.c1, 'd2', e.d, 'c2', e.c)
           |    ELSE acc END)""".stripMargin))
    both.collect().foreach { r =>
      val k = r.getSeq[Long](r.fieldIndex("k"))
      val h = r.getStruct(r.fieldIndex("h"))
      assert(k == Seq(h.getLong(0), h.getInt(1).toLong, h.getLong(2), h.getInt(3).toLong),
        s"kernel != HOF fold at vec ${r.getLong(0)}: $k vs $h")
    }
    // <2 and 0 centroids: the fold's init values survive
    val one = cents.where(col("c") === 0)
      .agg(expr("array_sort(collect_list(struct(c, cv)))").as("cents"))
    val r1 = q.limit(1).crossJoin(broadcast(one))
      .select(graft.functions.ArgminTop2Long(col("q"), col("cents"))).collect().head.getSeq[Long](0)
    assert(r1(1) >= 0 && r1(2) == Long.MaxValue && r1(3) == -1L, s"1-centroid edge: $r1")
    val zero = spark.sql(
      "SELECT CAST(array() AS ARRAY<STRUCT<c: INT, cv: ARRAY<BIGINT>>>) AS cents")
    val r0 = q.limit(1).crossJoin(broadcast(zero))
      .select(graft.functions.ArgminTop2Long(col("q"), col("cents"))).collect().head.getSeq[Long](0)
    assert(r0 == Seq(Long.MaxValue, -1L, Long.MaxValue, -1L), s"0-centroid edge: $r0")
  }

  test("GramShingles equals the transform(+array_distinct) HOF, element order included") {
    // the corpus: every doc's shingle ARRAY (values AND order) must
    // match the HOF formulations the kernel replaced, for the 3-gram
    // distinct form (the d02/d03 shingle family) AND the raw bigram
    // form (d29/d37's stream)
    val hof3 =
      """array_distinct(transform(sequence(0, size(ws)-3),
        |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))""".stripMargin
    val hof2 =
      "transform(sequence(0, size(ws)-2), i -> concat_ws(' ', ws[i], ws[i+1]))"
    val corpus = graft.model.Corpus.docs(spark, sf)
      .filter(size(col("ws")) >= 3).select(col("doc_id"), col("ws"))
    // edges: <k words (empty result), exactly 3, repeated shingles
    // (distinct keeps first occurrence), empty-string words, unicode
    val edges = {
      import spark.implicits._
      Seq(
        (-1L, Seq("a", "b")),
        (-2L, Seq("a", "b", "c")),
        (-3L, Seq("x", "y", "x", "y", "x", "y", "x")),
        (-4L, Seq("", "a", "", "a", "")),
        (-5L, Seq("café", "©", "naïve", "café", "©"))).toDF("doc_id", "ws")
    }
    Seq(corpus, edges).foreach { df =>
      df.withColumn("k3", graft.functions.GramShingles(col("ws"), 3, distinct = true))
        .withColumn("h3", expr(s"IF(size(ws) >= 3, $hof3, CAST(array() AS ARRAY<STRING>))"))
        .withColumn("k2", graft.functions.GramShingles(col("ws"), 2, distinct = false))
        .withColumn("h2", expr(s"IF(size(ws) >= 2, $hof2, CAST(array() AS ARRAY<STRING>))"))
        .collect().foreach { r =>
          assert(r.getSeq[String](r.fieldIndex("k3")) == r.getSeq[String](r.fieldIndex("h3")),
            s"3-gram kernel/HOF drift on doc ${r.getLong(0)}")
          assert(r.getSeq[String](r.fieldIndex("k2")) == r.getSeq[String](r.fieldIndex("h2")),
            s"bigram kernel/HOF drift on doc ${r.getLong(0)}")
        }
    }
    // SQL registration (x02) reaches the same kernel
    val viaSql = spark.sql(
      "SELECT graft_grams(array('a', 'b', 'c', 'd'), 3, true) AS g")
      .collect().head.getSeq[String](0)
    assert(viaSql == Seq("a b c", "b c d"), s"SQL registration: $viaSql")
    // d37's w1 recovery contract: a word never contains the separator,
    // so substring_index(bigram, ' ', 1) is exactly the first word —
    // including the empty-word edge
    val w1 = spark.sql(
      "SELECT transform(graft_grams(array('', 'a', 'b'), 2, false), g -> substring_index(g, ' ', 1)) AS w1s")
      .collect().head.getSeq[String](0)
    assert(w1 == Seq("", "a"), s"w1 recovery: $w1")
  }

  test("TileMd5 equals the transform+md5+slice HOF at stride 8 and stride 1") {
    // the d36/d90 non-overlapping tile unit and d111's stride-1
    // rolling hashes — values AND order must match the HOF forms
    val hofTiles =
      "transform(sequence(0, size(ws) div 8 - 1), i -> md5(concat_ws(' ', slice(ws, i * 8 + 1, 8))))"
    val hofRolls =
      "transform(sequence(0, size(ws) - 8), i -> md5(concat_ws(' ', slice(ws, i + 1, 8))))"
    val corpus = graft.model.Corpus.docs(spark, sf)
      .filter(size(col("ws")) >= 8).select(col("doc_id"), col("ws"))
    // edges: exactly 8 words, 9 (one full tile + roll pair), <8 (empty),
    // empty-string words, unicode
    val edges = {
      import spark.implicits._
      Seq(
        (-1L, (1 to 8).map(i => s"w$i")),
        (-2L, (1 to 9).map(i => s"w$i")),
        (-3L, (1 to 7).map(i => s"w$i")),
        (-4L, Seq("", "a", "", "b", "", "c", "", "d", "")),
        (-5L, Seq("café", "©", "naïve", "x", "y", "z", "é", "ü", "ß"))).toDF("doc_id", "ws")
    }
    Seq(corpus, edges).foreach { df =>
      df.withColumn("k8", graft.functions.TileMd5(col("ws"), 8, 8))
        .withColumn("h8", expr(s"IF(size(ws) >= 8, $hofTiles, CAST(array() AS ARRAY<STRING>))"))
        .withColumn("k1", graft.functions.TileMd5(col("ws"), 8, 1))
        .withColumn("h1", expr(s"IF(size(ws) >= 8, $hofRolls, CAST(array() AS ARRAY<STRING>))"))
        .collect().foreach { r =>
          assert(r.getSeq[String](r.fieldIndex("k8")) == r.getSeq[String](r.fieldIndex("h8")),
            s"stride-8 kernel/HOF drift on doc ${r.getLong(0)}")
          assert(r.getSeq[String](r.fieldIndex("k1")) == r.getSeq[String](r.fieldIndex("h1")),
            s"stride-1 kernel/HOF drift on doc ${r.getLong(0)}")
        }
    }
    // SQL registration (x02) reaches the same kernel
    val viaSql = spark.sql(
      "SELECT graft_tile_md5(array('a','b','c','d','e','f','g','h'), 8, 8) AS t")
      .collect().head.getSeq[String](0)
    val expect = spark.sql("SELECT md5('a b c d e f g h') AS m").collect().head.getString(0)
    assert(viaSql == Seq(expect), s"SQL registration: $viaSql vs $expect")
  }

  test("null-element guard is emitted only for nullable-element arrays") {
    import org.apache.spark.sql.graftbridge.GraftBridge
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    // nullable-element inputs: guard stays (public SQL function safety)
    val nullable = spark.sql(
      "SELECT array(CAST(1 AS LONG), CAST(NULL AS LONG), CAST(3 AS LONG)) AS a")
    val nExpr = graft.functions.DotLong(
      GraftBridge.expression(nullable("a")), GraftBridge.expression(nullable("a")))
    // non-null-element inputs (qvecs shape): branch-free loop
    val q = graft.model.Corpus.qvecs(spark, sf)
    assert(!q.schema("q").dataType.asInstanceOf[ArrayType].containsNull,
      "qvecs.q must be typed containsNull=false — kernels re-grow their hot-loop guard otherwise")
    assert(q.schema("q").dataType == ArrayType(LongType, containsNull = false))
    val qe = GraftBridge.expression(q("q"))
    assert(!graft.functions.DotLong(qe, qe).mayContainNullElems)
    assert(!graft.functions.SqDistLong(qe, qe).mayContainNullElems)
    assert(nExpr.mayContainNullElems)
    // embeddings straight off parquet are nullable-element floats —
    // CosineSim keeps its guard there, and drops it on split() words
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ee = GraftBridge.expression(emb("embedding"))
    assert(emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = true))
    assert(graft.functions.CosineSim(ee, ee).mayContainNullElems)
    val ws = graft.model.Corpus.docs(spark, sf)
    assert(!graft.functions.SimHash32(GraftBridge.expression(ws("ws"))).mayContainNullElems)
  }

  test("guarded kernels still skip null elements (defined SQL behavior)") {
    val out = spark.sql(
      """SELECT graft_dot_long(array(CAST(2 AS LONG), CAST(NULL AS LONG), CAST(3 AS LONG)),
        |                      array(CAST(5 AS LONG), CAST(7 AS LONG), CAST(NULL AS LONG))) AS d,
        |       graft_simhash32(array('a', CAST(NULL AS STRING), 'b')) AS f,
        |       graft_simhash32(array('a', 'b')) AS f2""".stripMargin).collect().head
    assert(out.getLong(0) == 10L) // only index 0 contributes
    assert(out.getLong(1) == out.getLong(2)) // null word skipped
  }

  test("graft_hash32 registered in SQL and equals the portable conv form") {
    val out = spark.sql(
      """SELECT graft_hash32(x) AS k,
        |       CAST(conv(substr(md5(x), 1, 8), 16, 10) AS LONG) AS p
        |FROM VALUES ('alpha'), (''), ('cms0#spark') AS t(x)""".stripMargin)
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("IO: parquet/csv/json round-trips preserve rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_io").toString
    val df = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS k")
    IO.writeParquet(df, s"$tmp/p", partitionBy = Seq("k"))
    assert(IO.readParquet(spark, s"$tmp/p").count() == 100)
    IO.writeCsv(df, s"$tmp/c")
    assert(IO.readCsv(spark, s"$tmp/c").count() == 100)
    IO.writeJson(df, s"$tmp/j")
    assert(IO.readJson(spark, s"$tmp/j").count() == 100)
    IO.writeOrc(df, s"$tmp/o")
    assert(IO.readOrc(spark, s"$tmp/o").count() == 100)
    IO.writeCsv(df.select("k"), s"$tmp/t")
    assert(IO.readText(spark, s"$tmp/t").count() >= 100) // +headers
  }

  test("x06: KMV aggregate matches the exact sort formulation and is partition-invariant") {
    import graft.functions.KmvSketchAgg
    // 500 values with duplicates over a known distinct set
    val df = spark.range(2000).selectExpr(
      "CAST(id % 3 AS STRING) AS g",
      // multiply by a big odd constant mod a prime-ish span: collision-free
      // enough to have >k distinct per group, duplicated by the %-fold
      "CAST((id % 311) * 2654435761 % 4294967296 AS LONG) AS h")
    def run(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(KmvSketchAgg(col("h"), 16).as("kmv"))
      .selectExpr("g", "kmv.k_actual", "kmv.h_k", "kmv.est_distinct")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val got = run(7)
    // exact reference: per group, k-th smallest distinct hash
    val want = df.selectExpr("g", "h").distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("h")))
      .filter(col("rn") <= 16)
      .groupBy("g").agg(count(lit(1)).as("ka"), max("h").as("hk"))
      .collect().map { r =>
        val (ka, hk) = (r.getLong(1), r.getLong(2))
        val est = if (ka < 16) ka.toDouble else 15.0 * 4294967296.0 / hk.toDouble
        (r.getString(0), ka, hk, est)
      }.toSet
    assert(got == want, s"only-got=${got -- want} only-want=${want -- got}")
    // merge associativity: any partitioning yields the identical sketch
    assert(run(1) == got && run(32) == got)
  }

  test("x06: KMV values form emits the sorted k-minimum distinct set, partition-invariant") {
    import graft.functions.KmvValuesAgg
    val df = spark.range(2000).selectExpr(
      "CAST(id % 3 AS STRING) AS g",
      "CAST((id % 311) * 2654435761 % 4294967296 AS LONG) AS h")
    def run(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(KmvValuesAgg(col("h"), 16).as("hs"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toList)).toMap
    val got = run(7)
    // exact reference: per group, the 16 smallest distinct hashes ascending
    val want = df.distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.take(16).toList).toMap
    assert(got == want)
    assert(run(1) == got && run(32) == got)
    // the summary form is a projection of the values form
    import graft.functions.KmvSketchAgg
    val summary = df.groupBy("g").agg(KmvSketchAgg(col("h"), 16).as("kmv"))
      .selectExpr("g", "kmv.k_actual", "kmv.h_k").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    got.foreach { case (g, hs) =>
      assert(summary(g) == ((hs.length.toLong, hs.last)))
    }
  }

  test("x06: graft_kmv_values registered as a SQL function, emits the sorted min-set") {
    val hs = spark.sql(
      "SELECT graft_kmv_values(CAST(id AS LONG), 8) AS hs FROM range(5)")
      .collect().head.getSeq[Long](0)
    assert(hs == Seq(0L, 1L, 2L, 3L, 4L))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_kmv_values(CAST(id AS LONG), CAST(id AS INT)) FROM range(5)").collect()
    }
    assert(e.getMessage.contains("graft_kmv_values") || e.getCause != null)
  }

  test("x06: graft_kmv registered as a SQL function, k must be a literal") {
    val est = spark.sql(
      "SELECT graft_kmv(CAST(id AS LONG), 8).k_actual AS ka FROM range(5)")
      .collect().head.getLong(0)
    assert(est == 5L)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_kmv(CAST(id AS LONG), CAST(id AS INT)) FROM range(5)").collect()
    }
    assert(e.getMessage.contains("graft_kmv") || e.getCause != null)
  }

  test("Fingerprint kernel equals the explode/min/countDistinct formulation") {
    // randomized strings incl. multi-byte code points: windows are
    // code-point indexed, so the kernel must match substr() on é/© too
    val docs = spark.range(60).selectExpr(
      "id AS doc_id",
      "concat(repeat(concat('w', id % 7, ' café© x'), CAST(1 + id % 9 AS INT)), ' tail', id) AS s")
      .filter("length(s) >= 8")
    val viaKernel = docs
      .select(col("doc_id"), graft.functions.Fingerprint(col("s")).as("f"))
      .selectExpr("doc_id", "f[0] AS fp_min", "f[1] AS n_uniq")
    val viaExplode = docs
      .select(col("doc_id"), col("s"),
        explode(expr("sequence(1, length(s) - 7, 4)")).as("i"))
      .withColumn("w8", expr("substr(s, i, 8)"))
      .groupBy("doc_id")
      .agg(min(graft.functions.hash32(col("w8"))).as("fp_min"),
        countDistinct(col("w8")).as("n_uniq"))
    val k = viaKernel.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e = viaExplode.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(k == e, s"kernel≠explode: ${k.toSet -- e.toSet}")
    // short strings: sentinel, no windows
    val short = spark.sql("SELECT graft_fingerprint('abc') AS f").collect().head
    assert(short.getSeq[Long](0) == Seq(-1L, 0L))
  }

  test("x07: ZOrder2 kernel equals the per-bit HOF formulation") {
    // randomized 16-bit inputs (deterministic hash spread), plus the
    // corner values; the oracle computes the same per-bit sum in DuckDB
    val df = spark.range(200).selectExpr(
      "CAST(conv(substr(md5(concat('zx', id)), 1, 4), 16, 10) AS LONG) AS x",
      "CAST(conv(substr(md5(concat('zy', id)), 1, 4), 16, 10) AS LONG) AS y")
      .unionAll(spark.sql(
        "SELECT CAST(0 AS LONG) x, CAST(0 AS LONG) y " +
          "UNION ALL SELECT CAST(65535 AS LONG), CAST(65535 AS LONG)"))
    val hof = "aggregate(sequence(0, 15), CAST(0 AS LONG), (acc, j) -> " +
      "acc + ((shiftright(x, j) & 1) * shiftleft(CAST(1 AS LONG), 2 * j)) " +
      "+ ((shiftright(y, j) & 1) * shiftleft(CAST(1 AS LONG), 2 * j + 1)))"
    val both = df
      .withColumn("zk", graft.functions.ZOrder2(col("x"), col("y")))
      .selectExpr("zk", s"$hof AS ze")
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("x07: graft_zorder registered via extensions; interleave is monotone per dimension") {
    val out = spark.sql(
      "SELECT graft_zorder(CAST(3 AS LONG), CAST(5 AS LONG)) AS z, " +
        "graft_zorder(CAST(NULL AS LONG), CAST(1 AS LONG)) AS zn").collect().head
    // 3 = 0b11 on even bits -> 0b0101; 5 = 0b101 on odd bits -> 0b100010
    assert(out.getLong(0) == ((1L) | (1L << 2) | (1L << 1) | (1L << 5)))
    assert(out.isNullAt(1)) // null-propagating like every binary expression
    // fixing one dimension, the key grows with the other: z-ranges are
    // scannable as ranges per dimension slice
    val zs = spark.range(100)
      .selectExpr("graft_zorder(CAST(id AS LONG), CAST(7 AS LONG)) AS z", "id")
      .orderBy("id").collect().map(_.getLong(0))
    assert(zs.sliding(2).forall(p => p(0) < p(1)))
  }

  test("MinHashFold equals the per-gram MinHash16 fold (and empty → neutral signature)") {
    import graft.functions.{MinHash16, MinHashFold}
    val docs = spark.range(0, 50).selectExpr(
      "id",
      """IF(id % 7 = 0, CAST(array() AS ARRAY<STRING>),
        |   transform(sequence(0, CAST(id % 9 AS INT)), i ->
        |     concat('g', CAST((id * 31 + i) % 40 AS STRING)))) AS garr""".stripMargin)
    val both = docs.select(col("id"),
        MinHashFold(col("garr")).as("fast"),
        expr(s"aggregate(transform(garr, g -> graft_minhash16(g)), " +
          s"array_repeat(CAST(${Long.MaxValue} AS LONG), 16), " +
          "(acc, h) -> zip_with(acc, h, (x, y) -> least(x, y)))").as("slow"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id ${r.getLong(0)}")
      if (r.getLong(0) % 7 == 0)
        assert(r.getSeq[Long](1).forall(_ == Long.MaxValue))
    }
  }

  test("SortedHitCount equals size(array_intersect) for a distinct probe") {
    import graft.functions.SortedHitCount
    val df = spark.range(0, 60).selectExpr(
      "id",
      // distinct probe of variable size (incl. empty), values g0..g29
      """array_distinct(transform(sequence(0, CAST(id % 11 AS INT)), i ->
        |  concat('g', CAST((id * 13 + i * 7) % 30 AS STRING)))) AS probe""".stripMargin,
      // sorted lookup set of a different stride (empty when id%5=0)
      """IF(id % 5 = 0, CAST(array() AS ARRAY<STRING>),
        |   array_sort(array_distinct(transform(sequence(0, 19), i ->
        |     concat('g', CAST((i * 3) % 30 AS STRING)))))) AS bg""".stripMargin)
    val both = df.select(col("id"),
        SortedHitCount(col("probe"), col("bg")).as("fast"),
        size(array_intersect(col("probe"), col("bg"))).cast("long").as("slow"))
      .collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id ${r.getLong(0)}"))
    assert(both.exists(_.getLong(1) > 0L), "fixture never hits — test is vacuous")
  }

  test("wordHits counts a non-BMP word list (the kernel's UTF-8 byte order, not String order)") {
    // Java String order puts the surrogate pair of U+1F600 (0xD83D)
    // before U+FF21; UTF-8 byte order puts it after (F0 > EF). A list
    // sorted the String way hides U+FF21 from the binary search.
    import graft.operators.TextAnalysis.wordHits
    val words = Seq("\uFF21", "\uD83D\uDE00")
    val hits = spark.range(1)
      .select(wordHits(array((words :+ "x").map(lit): _*), words))
      .head().getLong(0)
    assert(hits == 2L, s"non-BMP word list miscounted: $hits of 2")
  }

  test("nonEmptyCount: null ws is null, [] and [\"\"] are 0, [\"a\", \"\"] is 1") {
    import graft.operators.TextAnalysis.nonEmptyCount
    val out = spark.sql(
      """SELECT * FROM VALUES (0, CAST(NULL AS ARRAY<STRING>)), (1, CAST(array() AS ARRAY<STRING>)),
        |  (2, array('')), (3, array('a', '')) AS t(i, ws)""".stripMargin)
      .select(col("i"), nonEmptyCount(col("ws")))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out == Map(0 -> None, 1 -> Some(0L), 2 -> Some(0L), 3 -> Some(1L)), out)
  }

  test("graft_minhash_fold and graft_sorted_hit_count registered via extensions") {
    val out = spark.sql(
      """SELECT graft_minhash_fold(array('a b c')) = graft_minhash16('a b c') AS same_sig,
        |  graft_sorted_hit_count(array('b', 'x'), array_sort(array('a', 'b', 'c'))) AS hits
        |""".stripMargin).collect().head
    assert(out.getBoolean(0), "fold of a 1-gram array must equal the gram's signature")
    assert(out.getLong(1) == 1L)
  }

  test("the array kernels define null-element semantics (skip), never NPE") {
    // registered SQL functions accept arbitrary array<string>; a null
    // element is ignored on either side (array_sort puts nulls last,
    // so the searched prefix stays sorted)
    val out = spark.sql(
      """SELECT
        |  graft_minhash_fold(array('a b c', CAST(NULL AS STRING)))
        |    = graft_minhash16('a b c') AS fold_skips,
        |  graft_sorted_hit_count(array('b', CAST(NULL AS STRING)),
        |    array_sort(array('a', CAST(NULL AS STRING), 'b'))) AS hits
        |""".stripMargin).collect().head
    assert(out.getBoolean(0), "null gram changed the fold signature")
    assert(out.getLong(1) == 1L, "null elements miscounted")
  }

  test("IO: partitioned write enables partition pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_io2").toString
    val df = spark.range(1000).selectExpr("id", "CAST(id % 10 AS STRING) AS k")
    IO.writeParquet(df, s"$tmp/p", partitionBy = Seq("k"))
    val pruned = IO.readParquet(spark, s"$tmp/p").filter(col("k") === "3")
    val p = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(pruned.count() == 100)
    assert(p.contains("PartitionFilters: [isnotnull(k"), p)
  }
}
