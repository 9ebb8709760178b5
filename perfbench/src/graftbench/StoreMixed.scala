package graftbench

import graft.core.{IndexSpec, Store, StoredFrame}
import graft.ops.Knn
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One client in a closed loop, no think time, against two persisted
  * indexed stores: `lineitem` (indexed fields, row refs on a unique
  * line key) and `part` (with Knn weights). The client sends seeded,
  * key-skewed point reads through the driver-side `*Point` faces; between
  * read blocks it commits a `Store.append` and a `Store.delete`, and
  * every round ends with `Store.compact` + `Store.vacuum`.
  *
  * A round leaves the live rows as it found them: it appends fresh rows
  * and deletes them again. Rounds are therefore alike, and the store
  * does not grow with the number of rounds a run manages.
  */
object StoreMixed {
  // line key: l_orderkey alone repeats across an order's lines, and pair
  // counts intersect row keys, so refs use a key unique per line
  private val keyCol = "l_rowid"
  private val liSpec = IndexSpec(Seq("l_partkey", "l_suppkey", "l_quantity")).withRowRefs(keyCol)
  private val partSpec = IndexSpec(Seq("p_brand", "p_size")).withRowRefs("p_partkey")
  private val knnFields = Seq("p_brand", "p_size")

  // Op mix of one read block. A design choice, not taken from a trace:
  // the counts give every per-kind median, the single-entry p99 and the
  // pair p90 at least ten samples beyond them in a run of two rounds.
  private val Singles = Seq("f" -> 55, "rows" -> 55, "prefix" -> 55, "range" -> 55)
  private val Pairs = Seq("fand" -> 8, "bool" -> 8, "costats" -> 8)
  private val KnnOps = 3
  private val AppendRows = 300
  private val MinRounds = 2

  val layerMetrics: Seq[(String, String)] =
    Seq("f", "rows", "prefix", "range", "fand", "bool", "costats", "knn")
      .map(o => s"core.PointRead.${o}_ms" -> "ms") ++
    Seq("core.PointRead.read_p99_ms" -> "ms", "core.PointRead.pair_p90_ms" -> "ms",
      "core.PointRead.plan_ops" -> "count", "core.PointRead.first_read_ms" -> "ms",
      "core.Store.append_s" -> "s", "core.Store.delete_s" -> "s",
      "core.Store.commit_jobs" -> "count", "core.Store.open_ms" -> "ms",
      "core.Store.compact_s" -> "s", "core.Store.segments_max" -> "count",
      "core.Store.written_mb" -> "MB", "core.Store.write_s" -> "s",
      "ops.Knn.weights_s" -> "s")

  /** one lineitem row as the reference sees it */
  final case class Line(key: Long, pk: Long, sk: Long, qty: Double)

  /** The benchmark's own model of the live store: base rows, plus
    * appended batches, minus deleted keys, with per-entry key sets.
    */
  final class Reference(base: Seq[Line]) {
    val live = mutable.LinkedHashMap.empty[Long, Line]
    private val byPk = mutable.HashMap.empty[Long, mutable.Set[Long]]
    private val bySk = mutable.HashMap.empty[Long, mutable.Set[Long]]
    private val byQty = mutable.HashMap.empty[Double, mutable.Set[Long]]
    base.foreach(add)

    def add(l: Line): Unit = {
      require(!live.contains(l.key), s"duplicate key ${l.key}")
      live(l.key) = l
      byPk.getOrElseUpdate(l.pk, mutable.Set.empty) += l.key
      bySk.getOrElseUpdate(l.sk, mutable.Set.empty) += l.key
      byQty.getOrElseUpdate(l.qty, mutable.Set.empty) += l.key
    }
    def delete(k: Long): Unit = live.remove(k).foreach { l =>
      byPk(l.pk) -= k; bySk(l.sk) -= k; byQty(l.qty) -= k
    }
    def n: Long = live.size.toLong
    def pk(v: Long): collection.Set[Long] = byPk.getOrElse(v, Set.empty[Long])
    def sk(v: Long): collection.Set[Long] = bySk.getOrElse(v, Set.empty[Long])
    def prefix(p: String): Seq[(String, Long)] = byPk.iterator
      .map { case (v, ks) => (v.toString, ks.size.toLong) }
      .filter { case (v, f) => f > 0 && v.startsWith(p) }.toSeq.sortBy(_._1)
    def range(lo: Double, hi: Double): Seq[(Double, Long)] = byQty.iterator
      .collect { case (v, ks) if ks.nonEmpty && v >= lo && v <= hi => (v, ks.size.toLong) }
      .toSeq.sortBy(_._1)
  }

  /** an op, its arguments, and the answer the program gave */
  sealed trait Op { def kind: String }
  final case class FOp(pk: Long, ans: Long) extends Op { def kind = "f" }
  final case class RowsOp(pk: Long, ans: Seq[Long]) extends Op { def kind = "rows" }
  final case class PrefixOp(p: String, ans: Seq[(String, Long)]) extends Op { def kind = "prefix" }
  final case class RangeOp(lo: Double, hi: Double, ans: Seq[(String, Long)]) extends Op {
    def kind = "range"
  }
  final case class FAndOp(pk: Long, sk: Long, ans: Long) extends Op { def kind = "fand" }
  final case class BoolOp(pk: Long, sk: Long, ans: (Long, Long, Long, Long)) extends Op {
    def kind = "bool"
  }
  final case class CoStatsOp(pk: Long, sk: Long, ans: (Long, Long, Long, Long)) extends Op {
    def kind = "costats"
  }
  final case class KnnOp(q: Map[String, String], ans: Seq[(Long, Double)]) extends Op {
    def kind = "knn"
  }

  /** does `op`'s answer agree with the reference state it was asked in? */
  def agrees(op: Op, ref: Reference): Boolean = op match {
    case FOp(pk, ans) => ans == ref.pk(pk).size
    case RowsOp(pk, ans) => ans == ref.pk(pk).toSeq.sorted
    case PrefixOp(p, ans) => ans.filter(_._2 > 0).sortBy(_._1) == ref.prefix(p)
    case RangeOp(lo, hi, ans) =>
      ans.filter(_._2 > 0).map { case (v, f) => (v.toDouble, f) }.sortBy(_._1) == ref.range(lo, hi)
    case FAndOp(pk, sk, ans) => ans == (ref.pk(pk) & ref.sk(sk)).size
    case BoolOp(pk, sk, (and, or, diff, xor)) =>
      val (a, b) = (ref.pk(pk), ref.sk(sk))
      and == (a & b).size && or == (a | b).size && diff == (a -- b).size &&
        xor == ((a | b) -- (a & b)).size
    case CoStatsOp(pk, sk, (n, fa, fb, fab)) =>
      val (a, b) = (ref.pk(pk), ref.sk(sk))
      fab <= math.min(fa, fb) && math.min(fa, fb) <= n &&
        n == ref.n && fa == a.size && fb == b.size && fab == (a & b).size
    case KnnOp(_, _) => true // checked against [[knnExpected]]
  }

  /** top-k by weighted feature distance, computed here from the weight
    * rows and the part rows: baseline + Σ w1 over the row's weighted
    * entries outside the query − Σ w2 over those inside it, rounded to
    * 6 decimals, ties by key
    */
  def knnExpected(parts: Seq[(Long, Map[String, String])],
                  w: Seq[(String, String, Double, Double)],
                  q: Map[String, String], k: Int): Seq[(Long, Double)] = {
    val wm = w.map { case (f, v, w1, w2) => (f, v) -> (w1, w2) }.toMap
    val baseline = w.collect { case (f, v, _, w2) if q.get(f).contains(v) => w2 }.sum
    parts.map { case (key, kv) =>
      val s = kv.toSeq.flatMap { case (f, v) => wm.get((f, v)).map { case (w1, w2) =>
        if (q.get(f).contains(v)) -w2 else w1 } }.sum
      (key, BigDecimal(s + baseline).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (key, d) => (d, key) }.take(k)
  }

  /** Zipf ranks over `n` keys, permuted by the seed. The exponent is
    * YCSB's default request skew (zipfian constant 0.99; Cooper et al.,
    * "Benchmarking cloud serving systems with YCSB", SoCC 2010).
    */
  final class Skewed(n: Int, rnd: java.util.Random) {
    private val perm = {
      val a = (0 until n).toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, 0.99))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val res = r.res
    val t = r.trace
    val stores = new java.io.File(r.work, "stores")
    val liDir = s"$stores/lineitem"
    val partDir = s"$stores/part"
    val wDir = s"$stores/part_knn_weights"
    val lineitem = spark.read.parquet(s"${r.data}/lineitem.parquet")
      .withColumn(keyCol, col("l_orderkey") * 8 + col("l_linenumber"))
    val part = spark.read.parquet(s"${r.data}/part.parquet")

    // set-up, three times from empty: store writes, index builds, weights
    val writeS, weightsS = mutable.ArrayBuffer.empty[Double]
    def secs[A](buf: mutable.ArrayBuffer[Double])(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally buf += (System.nanoTime() - t0) / 1e9
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var li: StoredFrame = null
    var pt: StoredFrame = null
    var weights: Seq[(String, String, Double, Double)] = Nil
    for (_ <- 1 to 3) {
      Files.rm(stores)
      secs(setups) {
        t.span("setup") {
          secs(writeS) { t.span("core.Store.write") { Store.write(lineitem, liDir, liSpec) } }
          Store.write(part, partDir, partSpec)
          secs(weightsS) {
            t.span("ops.Knn.weights") {
              Knn.haveWeights(spark, wDir)(Knn.keyValueWeights(part, knnFields,
                col("p_type") === "ECONOMY")).count()
            }
          }
          li = Store.open(spark, liDir, liSpec)
          pt = Store.open(spark, partDir, partSpec)
          weights = Store.readWeightsDriver(spark, wDir)
        }
      }
    }

    // the reference and the inputs of the client, all from the seed
    val cols = lineitem.select(keyCol, "l_partkey", "l_suppkey", "l_quantity").collect()
    val base = cols.map(x => Line(x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).toSeq
    val baseRows: Map[Long, Row] = lineitem.collect().map(x => x.getAs[Long](keyCol) -> x).toMap
    val schema = lineitem.schema
    val parts = part.select("p_partkey", "p_brand", "p_size").collect()
      .map(x => (x.getLong(0), Map("p_brand" -> x.getString(1), "p_size" -> x.get(2).toString))).toSeq
    val rnd = new java.util.Random(r.seed)
    val pks = base.map(_.pk).distinct.sorted.toIndexedSeq
    val pkSkew = new Skewed(pks.size, rnd)
    val byPk = base.groupBy(_.pk)
    val brands = parts.map(_._2("p_brand")).distinct.sorted
    val sizes = parts.map(_._2("p_size")).distinct.sorted
    val maxKey = base.map(_.key).max
    var nextKey = (maxKey / 8 + 1) * 8

    // the timed phase records (epoch, op) and commits; checks come after
    val ops = mutable.ArrayBuffer.empty[(Int, Op)]
    val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val firstReads, opens, compacts, appendS, deleteS, commitJobs, written =
      mutable.ArrayBuffer.empty[Double]
    var planOps = 0L
    var segmentsMax = 0
    val commits = mutable.ArrayBuffer.empty[Either[Seq[Line], Seq[Long]]] // append | delete
    var firstAfterOpen = false

    def reopen(): Unit = {
      val t0 = System.nanoTime()
      li = t.span("core.Store.open") { Store.open(spark, liDir, liSpec) }
      opens += (System.nanoTime() - t0) / 1e6
      firstAfterOpen = true
      segmentsMax = math.max(segmentsMax, segments(liDir))
    }
    def timed(kind: String)(body: => Op): Unit = {
      val j0 = t.jobCount
      val t0 = System.nanoTime()
      val op = try Some(t.span(s"core.PointRead.$kind") { body }) catch {
        case e: Exception =>
          Console.err.println(s"OP FAILED $kind: $e")
          None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      res.attempted += 1
      op match {
        case None => res.failed += 1
        case Some(o) =>
          lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
          if (firstAfterOpen && Singles.exists(_._1 == kind)) firstReads += ms
          ops += ((commits.size, o))
      }
      if (Singles.exists(_._1 == kind)) firstAfterOpen = false
      if (t.jobCount != j0) planOps += 1
    }
    def pairArgs(): (Long, Long) = {
      val pk = pks(pkSkew.next())
      val lines = byPk(pk)
      val sk = if (rnd.nextBoolean()) lines(rnd.nextInt(lines.size)).sk
               else base(rnd.nextInt(base.size)).sk
      (pk, sk)
    }
    def readBlock(): Unit = {
      val kinds = scala.util.Random.javaRandomToRandom(rnd).shuffle(
        (Singles ++ Pairs :+ ("knn" -> KnnOps)).flatMap { case (k, n) => Seq.fill(n)(k) })
      kinds.foreach {
        case "f" => val pk = pks(pkSkew.next()); timed("f") { FOp(pk, li.fPoint("l_partkey", pk.toString)) }
        case "rows" => val pk = pks(pkSkew.next())
          timed("rows") { RowsOp(pk, li.rowsOfPoint("l_partkey", pk.toString).map(_.asInstanceOf[Long]).sorted) }
        case "prefix" => val p = pks(pkSkew.next()).toString.take(2)
          timed("prefix") { PrefixOp(p, li.prefixPoint("l_partkey", p)) }
        case "range" => val lo = 1.0 + rnd.nextInt(45)
          timed("range") { RangeOp(lo, lo + 4, li.rangePoint("l_quantity", lo, lo + 4)) }
        case "fand" => val (pk, sk) = pairArgs()
          timed("fand") { FAndOp(pk, sk, li.fAndPoint("l_partkey", pk.toString, "l_suppkey", sk.toString)) }
        case "bool" => val (pk, sk) = pairArgs()
          timed("bool") { BoolOp(pk, sk, li.boolCountsPoint("l_partkey", pk.toString, "l_suppkey", sk.toString)) }
        case "costats" => val (pk, sk) = pairArgs()
          timed("costats") {
            val c = li.coStatsPoint("l_partkey", pk.toString, "l_suppkey", sk.toString)
            CoStatsOp(pk, sk, (c.n, c.fA, c.fB, c.fAB))
          }
        case "knn" =>
          val q = Map("p_brand" -> brands(rnd.nextInt(brands.size)), "p_size" -> sizes(rnd.nextInt(sizes.size)))
          timed("knn") {
            val ans = pt.knnPoint(weights, q, 10).getOrElse(
              Knn.topK(part, spark.read.parquet(wDir), knnFields, q, "p_partkey", 10)
                .collect().map(x => (x.get(0), x.getDouble(1))).toSeq)
            KnnOp(q, ans.map { case (k, d) => (k.asInstanceOf[Long], d) })
          }
      }
    }
    def commit(what: String, c: Either[Seq[Line], Seq[Long]])(body: => Unit): Unit = {
      val before = Files.size(new java.io.File(liDir))
      val j0 = t.jobCount
      val t0 = System.nanoTime()
      val ok = try { t.span(s"core.Store.$what") { body }; true } catch {
        case e: Exception => Console.err.println(s"COMMIT FAILED $what: $e"); false
      }
      val s = (System.nanoTime() - t0) / 1e9
      res.attempted += 1
      if (!ok) res.failed += 1
      else {
        (if (what == "append") appendS else deleteS) += s
        commitJobs += (t.jobCount - j0).toDouble
        written += (Files.size(new java.io.File(liDir)) - before) / 1048576.0
        commits += c
      }
      reopen()
    }
    def append(rows: Seq[Row]): Unit = {
      def at(x: Row, c: String) = x.get(schema.fieldIndex(c))
      val lines = rows.map(x => Line(at(x, keyCol).asInstanceOf[Long], at(x, "l_partkey").asInstanceOf[Long],
        at(x, "l_suppkey").asInstanceOf[Long], at(x, "l_quantity").asInstanceOf[Double]))
      commit("append", Left(lines)) {
        Store.append(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), liDir, liSpec)
      }
    }
    def delete(keys: Seq[Long]): Unit = {
      import spark.implicits._
      commit("delete", Right(keys)) {
        Store.delete(spark, liDir, liSpec, keyCol, keys.toDF(keyCol))
      }
    }
    def freshRows(): Seq[Row] = (0 until AppendRows).map { _ =>
      val tpl = baseRows(base(rnd.nextInt(base.size)).key)
      val v = tpl.toSeq.toArray
      nextKey += 8
      v(schema.fieldIndex(keyCol)) = nextKey + 1
      v(schema.fieldIndex("l_orderkey")) = nextKey / 8
      v(schema.fieldIndex("l_linenumber")) = 1
      v(schema.fieldIndex("l_partkey")) = pks(pkSkew.next())
      v(schema.fieldIndex("l_quantity")) = (1 + rnd.nextInt(50)).toDouble
      Row.fromSeq(v.toSeq)
    }

    // whole rounds until the time is up, at least MinRounds
    val rounds = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (rounds.size < MinRounds || (System.nanoTime() - start) / 1e9 < r.seconds) {
      val r0 = System.nanoTime()
      val fresh = freshRows()
      readBlock(); append(fresh)
      readBlock(); delete(fresh.map(_.getLong(schema.fieldIndex(keyCol))))
      readBlock()
      val c0 = System.nanoTime()
      t.span("core.Store.compact") { Store.compact(spark, liDir); Store.vacuum(spark, liDir) }
      compacts += (System.nanoTime() - c0) / 1e9
      reopen()
      rounds += (System.nanoTime() - r0) / 1e9
    }
    val storeMb = Seq(liDir, partDir, wDir).map(d => Files.size(new java.io.File(d))).sum / 1048576.0
    val heap = r.retainedHeapMb()
    Console.err.println(s"rounds: ${rounds.map(x => f"$x%.3f").mkString(" ")}; ops: ${ops.size}; " +
      s"commits: ${commits.size}; set-ups: ${setups.map(x => f"$x%.3f").mkString(" ")}; " +
      s"append/delete/compact s: ${(appendS ++ deleteS ++ compacts).map(x => f"$x%.2f").mkString(" ")}; " +
      s"p50 ms: " + (Singles ++ Pairs :+ ("knn" -> 0)).map(_._1)
        .map(k => f"$k=${Stats.median(lat(k).toSeq)}%.2f").mkString(" "))

    // correctness: replay the commits over the reference, epoch by epoch
    val ref = new Reference(base)
    val byEpoch = ops.groupBy(_._1)
    var bad = 0
    var checked = 0
    for (e <- 0 to commits.size) {
      if (e > 0) commits(e - 1) match {
        case Left(lines) => lines.foreach(ref.add)
        case Right(keys) => keys.foreach(ref.delete)
      }
      byEpoch.getOrElse(e, Nil).foreach { case (_, op) =>
        checked += 1
        if (!agrees(op, ref)) { bad += 1; Console.err.println(s"WRONG ANSWER at epoch $e: $op") }
      }
    }
    val knnOps = ops.collect { case (_, k: KnnOp) => k }
    val knnBad = knnOps.count(k => k.ans != knnExpected(parts, weights, k.q, 10))
    res.check("store_mixed answers match the reference", bad == 0 && checked == ops.size)
    res.check("store_mixed knn matches the recomputed distances", knnBad == 0 && knnOps.nonEmpty)
    // negative controls: one wrong answer of each kind must be caught
    val last = new Reference(base)
    commits.foreach {
      case Left(lines) => lines.foreach(last.add)
      case Right(keys) => keys.foreach(last.delete)
    }
    val finalOps = byEpoch.getOrElse(commits.size, Nil).map(_._2)
    def wrong(o: Op): Op = o match {
      case x: FOp => x.copy(ans = x.ans + 1)
      case x: RowsOp => x.copy(ans = x.ans :+ -1L)
      case x: PrefixOp => x.copy(ans = x.ans :+ ("999999", 1L))
      case x: RangeOp => x.copy(ans = x.ans :+ ("51.0", 1L))
      case x: FAndOp => x.copy(ans = x.ans + 1)
      case x: BoolOp => x.copy(ans = x.ans.copy(_2 = x.ans._2 + 1))
      case x: CoStatsOp => x.copy(ans = x.ans.copy(_4 = x.ans._3 + 1))
      case x: KnnOp => x
    }
    Seq("f", "rows", "prefix", "range", "fand", "bool", "costats").foreach { k =>
      finalOps.find(_.kind == k) match {
        case Some(o) => res.check(s"store_mixed rejects a wrong $k answer", !agrees(wrong(o), last))
        case None => res.check(s"store_mixed has a $k op after the last commit", ok = false)
      }
    }
    res.check("store_mixed rejects a wrong knn answer", knnOps.find(_.ans.nonEmpty).exists { k =>
      val (key, d) = k.ans.head
      k.ans.updated(0, (key, d + 1e-3)) != knnExpected(parts, weights, k.q, 10)
    })

    def p(kinds: Seq[String], q: Double) = Stats.pct(kinds.flatMap(k => lat.getOrElse(k, Nil)).toSeq, q)
    val singles = Singles.map(_._1)
    val pairs = Pairs.map(_._1)
    if (!r.traced) {
      val kinds = (singles ++ pairs :+ "knn").map(k => Stats.median(lat(k).toSeq))
      res.metric("setup_s", Stats.median(setups.toSeq), "s")
      res.metric("retained_heap_mb", heap, "MB")
      // the fastest round: the first runs the commit and compaction
      // paths cold, and a slower one measures whatever else the
      // machine was doing
      res.metric("round_s", rounds.min, "s")
      res.metric("op_gmean_ms", Stats.gmean(kinds), "ms")
      res.metric("disk_mb", storeMb, "MB")
    } else {
      val v = mutable.LinkedHashMap.empty[String, Double]
      (singles ++ pairs :+ "knn").foreach(k => v(s"core.PointRead.${k}_ms") = p(Seq(k), 50))
      v("core.PointRead.read_p99_ms") = p(singles, 99)
      v("core.PointRead.pair_p90_ms") = p(pairs, 90)
      v("core.PointRead.plan_ops") = planOps.toDouble
      v("core.PointRead.first_read_ms") = Stats.median(firstReads.toSeq)
      v("core.Store.append_s") = Stats.median(appendS.toSeq)
      v("core.Store.delete_s") = Stats.median(deleteS.toSeq)
      v("core.Store.commit_jobs") = Stats.median(commitJobs.toSeq)
      v("core.Store.open_ms") = Stats.median(opens.toSeq)
      v("core.Store.compact_s") = Stats.median(compacts.toSeq)
      v("core.Store.segments_max") = segmentsMax.toDouble
      v("core.Store.written_mb") = Stats.median(written.toSeq)
      v("core.Store.write_s") = Stats.median(writeS.toSeq)
      v("ops.Knn.weights_s") = Stats.median(weightsS.toSeq)
      Layers.report(res, v.toMap)
    }
  }

  /** index segments in the store's live index generation */
  private def segments(dir: String): Int = {
    val gens = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(f => f.getName == "index" || f.getName.startsWith("index_g"))
    gens.sortBy(f => scala.util.Try(f.getName.stripPrefix("index_g").toInt).getOrElse(-1))
      .lastOption.map(g => Option(g.listFiles()).getOrElse(Array())
        .count(_.getName.startsWith("seg_"))).getOrElse(0)
  }
}
