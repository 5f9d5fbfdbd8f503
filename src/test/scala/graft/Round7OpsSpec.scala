package graft

import org.apache.spark.sql.functions._

/** Semantic pins for the round-7 operators — each asserts the invariant
  * the sf-oracle hash can't isolate: attribution against a local replay
  * of the last-click-carry rule, DAU/WAU against brute-force set algebra
  * over day windows, banded hamming against an all-pairs scan of the
  * engine's own signatures (the pigeonhole recall-1 claim), and the OLS
  * slope against a direct least-squares fit on the frame values.
  */
class Round7OpsSpec extends SparkSpec {

  test("attribution: daily counts equal a local last-click replay") {
    val rows = operators.Events.evtAttribution(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val local = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    ev.groupBy(_._1).values.foreach { g =>
      var lastClick = Option.empty[Long]
      g.sortBy(e => (e._4, e._2)).foreach { case (_, _, typ, us, cents) =>
        if (typ == "purchase") {
          val day = us / 86400000000L
          val attr = lastClick.exists(c => us - c <= 86400000000L)
          val (p, a, m) = local.getOrElse(day, (0L, 0L, 0L))
          local(day) = (p + 1, a + (if (attr) 1L else 0L),
            m + (if (attr) cents else 0L))
        }
        if (typ == "click") lastClick = Some(us)
      }
    }
    assert(rows == local.toMap)
  }

  test("dau/wau: rolling distinct equals brute-force day-window set algebra") {
    val rows = operators.Events.evtDau(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val pairs = Tables.events(spark, sf0001)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val days = pairs.map(_._2)
    val local = days.map { d =>
      val dau = pairs.count(_._2 == d).toLong
      val wau = pairs.filter(p => p._2 >= d - 6 && p._2 <= d)
        .map(_._1).size.toLong
      d -> (dau, wau, dau * 1000 / wau)
    }.toMap
    assert(rows == local)
  }

  test("banded hamming: pairs equal an all-pairs scan of the engine's own sigs") {
    val sigs = operators.Dedup.hammingSigs(Tables.documents(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exact = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val banded = operators.Dedup.dedupHamming(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == exact) // pigeonhole: 4 bands, ham <= 3 => recall 1
    assert(exact.nonEmpty)
  }

  test("simhash_sig codegen expression equals the explode/vote formulation") {
    val sh = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))")).as("tok"))
      .withColumn("th", expr(
        "aggregate(transform(sequence(1, length(tok)), i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT)), " +
          "CAST(7 AS BIGINT), (h, c) -> (h * 131 + c) % 2147483647)"))
    val votes = (0 until 32).map { b =>
      sum(when(expr(s"(th >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    val sig = (0 until 32).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce[org.apache.spark.sql.Column](_ + _)
    val reference = sh.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .withColumn("sig", sig)
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val engine = operators.Dedup.hammingSigs(
        Tables.documents(spark, sf0001))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine == reference)
  }

  test("ols slope: window sums reproduce a direct least-squares fit") {
    val rows = operators.Windows.winSlope(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(4) == 336L)) // den = n²(n²−1)/12 at n=8
    val byUser = Tables.events(spark, sf0001)
      .filter(col("user_id") % 17 === 0)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(e => (e._3, e._2)).map(_._4)).toMap
    rows.take(50).foreach { r =>
      val (uid, x) = (r.getLong(1), r.getLong(2).toInt)
      val ys = byUser(uid).slice(x - 8, x).map(_.toDouble)
      val xs = (x - 7 to x).map(_.toDouble)
      val (n, sx, sy) = (8.0, xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(slope - r.getDouble(5)) < 1e-9, s"uid=$uid x=$x")
    }
  }

  test("spatial join: stencil pairs equal a brute-force scan with the same haversine") {
    val pts = Tables.customer(spark, sf0001)
      .select(col("c_custkey"),
        (((col("c_custkey") * 37) % 12000).cast("double") / 100.0 - 60.0 + 0.005),
        (((col("c_custkey") * 73) % 36000).cast("double") / 100.0 - 180.0 + 0.005))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val exact = (for {
      (a, alat, alon) <- pts; (b, blat, blon) <- pts if a < b
      km = functions.Haversine.km(alat, alon, blat, blon) if km <= 100.0
    } yield (a, b)).toSet
    val engine = operators.Geo.joinSpatial(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(engine == exact)
    assert(exact.nonEmpty)
  }

  test("bfs: hop histogram equals a local BFS replay") {
    val edges = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")), concat(lit("s"), col("l_suppkey")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    var visited = Map("c1" -> 0L)
    var frontier = Set("c1")
    for (h <- 1 to 3) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- visited.keySet
      visited ++= next.map(_ -> h.toLong)
      frontier = next
    }
    val local = visited.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val engine = operators.Graph.graphBfs(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(engine == local)
    assert(engine.keySet.contains(1L)) // c1 actually reaches suppliers
  }

  test("product quantization: assignments partition the corpus, codebook self-distortion is zero") {
    val rows = operators.Sim.embPq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = Tables.embeddings(spark, sf0001).count()
    // every subspace assigns every vector to exactly one centroid
    rows.groupBy(_._1).foreach { case (_, g) => assert(g.map(_._3).sum == total) }
    assert(rows.map(_._1).distinct.length == 8)
    assert(rows.forall(_._4 >= 0L))
  }

  test("entropy: integer micro-nat entropy equals a local replay of the shared table") {
    val rows = operators.Text.textEntropy(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ln = (1 to 128).map(k => k.toLong -> math.round(math.log(k.toDouble) * 1e6)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val local = docs.map { case (id, text) =>
      val counts = text.split(" ").groupBy(identity).view.mapValues(_.length.toLong)
      val n = counts.values.sum
      val ent = counts.values.map(c => c * (ln(n) - ln(c))).sum
      id -> (n, ent, ent / n) // ent >= 0, so / is floor div
    }.toMap
    assert(rows == local)
    // uniform doc (all counts 1) has max entropy n·ln(n); degenerate has 0
    rows.foreach { case (id, (n, ent, _)) =>
      assert(ent >= 0 && ent <= n * ln(n), s"doc $id") }
  }

  test("overlap join: per-customer pair counts equal a local interval scan") {
    val rows = operators.Joins.joinOverlap(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val DayUs = 86400000000L
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val local = orders.groupBy(_._1).flatMap { case (ck, os) =>
      val pairs = for {
        (_, a, as_) <- os; (_, b, bs) <- os
        if a < b && as_ <= bs + 30 * DayUs && bs <= as_ + 30 * DayUs
      } yield (math.min(as_ + 30 * DayUs, bs + 30 * DayUs) -
        math.max(as_, bs)) / DayUs + 1
      if (pairs.isEmpty) None else Some(ck -> (pairs.size.toLong, pairs.sum))
    }
    assert(rows == local)
  }

  test("paths: top trigram sequences equal a local lead replay") {
    val rows = operators.Events.evtPaths(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tris = ev.groupBy(_._1).values.flatMap { g =>
      val seq = g.sortBy(e => (e._3, e._2)).map(_._4)
      seq.sliding(3).filter(_.size == 3).map(w => (w(0), w(1), w(2)))
    }.toSeq
    val counts = tris.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((a, b, c), n) => (a, b, c, n) }
      .sortBy(t => (-t._4, t._1, t._2, t._3)).take(10)
    assert(rows.toSeq == counts)
  }

  test("collocations: staged-integer lift equals a local replay") {
    val rows = operators.Text.textColloc(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val texts = Tables.documents(spark, sf0001)
      .select(col("text")).collect().map(_.getString(0))
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val bi = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    texts.foreach { t =>
      val ws = t.split(" ")
      ws.foreach(w => uni(w) += 1)
      ws.sliding(2).filter(_.length == 2).foreach(p => bi((p(0), p(1))) += 1)
    }
    val nU = uni.values.sum; val nB = bi.values.sum
    val local = bi.toSeq.filter(_._2 >= 5).map { case ((a, b), nab) =>
      val lift = ((((nab * nU) / uni(a)) * nU) / uni(b)) * 1000000L / nB
      (a, b, nab, uni(a), uni(b), lift)
    }.sortBy(t => (-t._6, t._1, t._2)).take(20)
    assert(rows.toSeq == local)
  }

  test("common-neighbor scores equal a local wedge count on the sampled block") {
    val rows = operators.Graph.graphCommon(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCust = e.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val custs = byCust.keys.toSeq.sorted
    val local = (for {
      a <- custs; b <- custs if a < b
      c = (byCust(a) & byCust(b)).size if c > 0
    } yield (a, b, c.toLong))
      .sortBy(t => (-t._3, t._1, t._2)).take(20)
    assert(rows.toSeq == local)
  }

  test("native session_window sessions equal the lag/cumsum session algebra") {
    val native = operators.Events.evtSessionNative(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val manual = operators.Events.evtSession(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4) + 1800L, r.getLong(2))).toSet
    assert(native == manual) // start, last+gap, count — same sessions
  }

  test("tpch q10: top returned-revenue customers are ordered and positive") {
    val rows = operators.Analytics.tpchQ10(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getLong(3))
    assert(revs.sameElements(revs.sorted.reverse) && revs.forall(_ > 0))
  }

  test("char_ngrams generator equals the explode(transform(...)) formulation") {
    val docs = Tables.documents(spark, sf0001)
    val gen = docs.select(expr("char_ngrams(text, 4)").as("gram"))
      .groupBy("gram").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val arr = docs.filter(length(col("text")) >= 4)
      .select(explode(expr(
        "transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))"))
        .as("gram"))
      .groupBy("gram").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gen == arr)
    assert(gen.nonEmpty)
    // short inputs and n as a non-literal must fail loudly, not mislead
    import spark.implicits._
    assert(Seq("abc").toDF("text")
      .select(expr("char_ngrams(text, 4)")).count() == 0)
    intercept[Exception] {
      Seq("abc").toDF("text").select(expr("char_ngrams(text, length(text))")).collect()
    }
  }

  test("tpch q6: scan-sum revenue equals the filtered integer recomputation") {
    val r = operators.Analytics.tpchQ6(spark, sf0001).collect().head
    val local = Tables.lineitem(spark, sf0001)
      .select(expr("CAST(CAST(l_shipdate AS DATE) AS STRING)").as("sd"),
        col("l_quantity"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("bp"))
      .collect()
      .filter { row =>
        val sd = row.getString(0)
        sd >= "1996-01-01" && sd < "1997-01-01" &&
          row.getLong(3) >= 5 && row.getLong(3) <= 7 && row.getDouble(1) < 24
      }
    assert(r.getLong(1) == local.length)
    assert(r.getLong(0) == local.map(row => row.getLong(2) * row.getLong(3)).sum)
  }

  test("rfm segments partition the purchasing users and conserve cents") {
    val rows = operators.Events.evtRfm(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val p = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._4).sum == p.map(_._1).distinct.length) // every buyer in one segment
    assert(rows.map(_._5).sum == p.map(_._2).sum)             // cents conserved
    assert(rows.forall(t => Seq(t._1, t._2, t._3).forall(b => b >= 1 && b <= 3)))
  }

  test("sql pivot matches the DataFrame pivot algebra") {
    val sqlRows = operators.SqlReport.sqlPivot(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val manual = Tables.events(spark, sf0001)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy("day")
      .agg(
        coalesce(sum(when(col("event_type") === "view", col("cents"))), lit(0L)).as("v"),
        coalesce(sum(when(col("event_type") === "click", col("cents"))), lit(0L)).as("c"),
        coalesce(sum(when(col("event_type") === "purchase", col("cents"))), lit(0L)).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(sqlRows == manual)
  }

  test("weighted median: crossing point equals a local cumulative-weight scan") {
    val rows = operators.Aggs.aggWmedian(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderpriority"), col("o_orderkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val local = orders.groupBy(_._1).map { case (pri, g) =>
      val sorted = g.sortBy(o => (o._3, o._2)).map(o => (o._3, 1 + o._2 % 5))
      val tot = sorted.map(_._2).sum
      var cum = 0L
      val cross = sorted.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
      pri -> (cross, tot)
    }
    assert(rows == local)
  }

  test("calendar dim: dow attribution matches java.time on the corpus span") {
    val rows = operators.Events.evtDow(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val days = Tables.events(spark, sf0001)
      .select(expr("unix_micros(ts) div 86400000000")).collect().map(_.getLong(0))
    val local = days.groupBy { d =>
      val dow = java.time.LocalDate.ofEpochDay(d).getDayOfWeek.getValue - 1 // Mon=0
      (dow.toLong, if (dow >= 5) 1L else 0L)
    }.map { case (k, ds) => (k._1, k._2, ds.length.toLong, ds.distinct.length.toLong) }
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == local)
  }

  test("windowed funnel is a subset of the unbounded funnel at every stage") {
    def counts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0).substring(0, 1) -> r.getLong(1)).toMap
    val bounded = counts(operators.Events.evtFunnelWindow(spark, sf0001))
    val open = counts(operators.Events.evtFunnel(spark, sf0001))
    assert(bounded("1") == open("1")) // stage 1 has no window
    assert(bounded.getOrElse("2", 0L) <= open("2"))
    assert(bounded.getOrElse("3", 0L) <= open("3"))
    assert(bounded.getOrElse("2", 0L) >= bounded.getOrElse("3", 0L))
  }

  test("ann recall: per-query hits bounded by 5 and consistent with the pipelines") {
    val rows = operators.Sim.simRecall(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == (0L until 10L).toSet)
    assert(rows.values.forall(h => h >= 0 && h <= 5))
    // probe-1 IVF on a same-list query must find at least its own list's
    // true neighbors — on this data recall is nonzero somewhere
    assert(rows.values.sum > 0)
  }

  test("ann recall evaluator: probe-2 dominates probe-1; exhaustive candidates hit 5/5") {
    def recall(ap: org.apache.spark.sql.DataFrame) =
      operators.Sim.recallAt5(spark, sf0001, ap.select("q_id", "c_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p1 = recall(operators.Sim.simIvfSearch(spark, sf0001))
    val p2 = recall(operators.Sim.simIvfProbe2(spark, sf0001))
    assert(p1.keySet == p2.keySet)
    // candidate-superset monotonicity: probe-2's candidate set contains
    // probe-1's (the home list is probe rank 1 of 2), and any candidate
    // displacing a truth row from an approx top-5 outranks it globally,
    // so is itself truth — per-query recall can only go up
    p1.keys.foreach(q => assert(p2(q) >= p1(q), s"query $q: ${p2(q)} < ${p1(q)}"))
    // fixed point: an index returning every candidate scores 5/5 —
    // pins the evaluator itself (truth derivation + hit join)
    val e = Tables.embeddings(spark, sf0001)
    val all = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .crossJoin(e.select(col("vec_id").as("c_id")))
      .filter(col("q_id") =!= col("c_id"))
    assert(recall(all).values.forall(_ == 5L))
  }

  test("winnowing: fingerprint counts equal a local rightmost-min replay") {
    val rows = operators.Text.textWinnow(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf0001)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val P = 2147483647L
    val local = docs.map { case (id, text) =>
      val keys = (1 to text.length - 4).map { i =>
        var h = 7L
        (0 to 4).foreach { k => h = (h * 131 + text.charAt(i + k - 1).toInt) % P }
        h * 1024 + (1023 - i)
      }
      val fps = (0 to keys.length - 4).map(i => keys.slice(i, i + 4).min).distinct
      val nw = keys.length - 3L
      id -> (nw, fps.length.toLong, fps.length * 1000L / nw)
    }.toMap
    assert(rows == local)
    // density near the theoretical 2/(w+1) = 400 permille
    val meanDensity = rows.values.map(_._3).sum / rows.size
    assert(meanDensity > 300 && meanDensity < 500, s"density $meanDensity")
  }

  test("tpch q7: both nation-pair directions present and revenue positive") {
    val rows = operators.Analytics.tpchQ7(spark, sf0001).collect()
    val dirs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(dirs.subsetOf(Set(("NATION_3", "NATION_7"), ("NATION_7", "NATION_3"))))
    assert(rows.forall(_.getLong(3) > 0))
  }
}
