package graftbench

/** Correctness checks that do not rely on the program: properties the
  * method must have, recomputed here from the inputs. Each check is
  * also fed a deliberately wrong answer, which it must reject.
  */
object Checks {
  private def out(r: Run, q: String) = r.spark.read.parquet(s"${r.work}/out/$q").collect()

  private def docs(r: Run): Map[Long, String] =
    r.spark.read.parquet(s"${r.data}/documents.parquet").select("doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap

  /** distinct 3-word shingles of the lower-cased text, as the method defines them */
  private def shingles(t: String): Set[Seq[String]] =
    t.toLowerCase.split(" ", -1).toSeq.sliding(3).toSet

  /** Properties of `Dedup.minhashLsh`'s pairs (a, b, est_jaccard):
    *  - each is a < b over known documents, with an estimate of at least
    *    0.5 on the 1/32 grid of its 32 hashes;
    *  - each pair of distinct documents with the same text (the 3x
    *    replicas and the planted copies) is reported with estimate 1:
    *    equal texts have equal signatures, so every band collides,
    *    whatever the hash family;
    *  - each pair's exact Jaccard over distinct 3-word shingles,
    *    recomputed here, is at least 0.5.
    * The method filters on its estimate, not on the exact value, so the
    * last holds only because the inputs keep pairs away from the
    * threshold: related texts are copies or chains of " dup" suffixes,
    * exact Jaccard n/(n+c) for n >= 8 shingles and c links, so one under
    * 0.5 needs a chain of 9 links; unrelated texts share almost no
    * shingles (Jaccard under 0.05), where an estimate of 16/32 or more
    * has a binomial probability of about 1e-12.
    */
  def minhashHolds(pairs: Seq[(Long, Long, Double)], text: Map[Long, String]): Boolean = {
    val sameText = text.toSeq.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
      .flatMap(ids => ids.combinations(2).map { case Seq(a, b) => (a, b) })
    val est = pairs.map { case (a, b, e) => (a, b) -> e }.toMap
    est.size == pairs.size && sameText.forall(p => est.get(p).contains(1.0)) &&
      pairs.forall { case (a, b, e) =>
        a < b && text.contains(a) && text.contains(b) && e >= 0.5 && e <= 1.0 &&
          math.abs(e * 32 - math.rint(e * 32)) < 1e-4 && jaccardClears(text(a), text(b))
      }
  }

  private def jaccardClears(s: String, t: String): Boolean = {
    val (x, y) = (shingles(s), shingles(t))
    2 * (x & y).size >= (x | y).size
  }

  def minhashPairs(r: Run): Unit = {
    val text = docs(r)
    val pairs = out(r, "dedup_minhash").map(x => (x.getAs[Long]("a"), x.getAs[Long]("b"),
      x.getAs[Double]("est_jaccard"))).toSeq
    r.res.check("property dedup_minhash: threshold, copies reported, exact Jaccard",
      pairs.nonEmpty && minhashHolds(pairs, text))
    val ids = text.keys.toSeq.sorted
    val (a, b) = ids.iterator.flatMap(a => ids.iterator.filter(_ > a).map(b => (a, b)))
      .find { case (a, b) => !jaccardClears(text(a), text(b)) }.get
    r.res.check("property dedup_minhash rejects a dissimilar pair",
      !minhashHolds(pairs :+ ((a, b, 0.5)), text))
    val copy = pairs.indexWhere { case (a, b, _) => text(a) == text(b) }
    r.res.check("property dedup_minhash rejects a missed copy",
      copy >= 0 && !minhashHolds(pairs.patch(copy, Nil, 1), text))
  }

  final case class Nbr(qid: Long, rnk: Int, nbr: Long, cos: Double)

  /** each query gets at most k neighbours, ranked 1.., sorted by cosine
    * (ties by id), and every cosine is the exact one to 6 decimals
    */
  def topKHolds(rows: Seq[Nbr], emb: Map[Long, Array[Float]], queries: Set[Long],
                k: Int): Boolean = {
    def exact(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      var d, nx, ny = 0.0
      x.indices.foreach { i => d += x(i) * y(i).toDouble; nx += x(i) * x(i).toDouble; ny += y(i) * y(i).toDouble }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val byQ = rows.groupBy(_.qid)
    byQ.keySet == queries && byQ.values.forall { ns =>
      val s = ns.sortBy(_.rnk)
      s.size <= k && s.map(_.rnk) == (1 to s.size) &&
        s.sliding(2).forall {
          case Seq(a, b) => a.cos > b.cos || (a.cos == b.cos && a.nbr < b.nbr)
          case _ => true
        } &&
        s.forall(n => emb.contains(n.nbr) && math.abs(n.cos - exact(n.qid, n.nbr)) <= 1.0e-6)
    }
  }

  def ivfTopK(r: Run): Unit = {
    val emb = r.spark.read.parquet(s"${r.data}/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(x => x.getLong(0) -> x.getSeq[Float](1).toArray).toMap
    val rows = out(r, "ann_ivf_topk").map(x => Nbr(x.getAs[Long]("qid"),
      x.getAs[Number]("rnk").intValue, x.getAs[Long]("nbr"), x.getAs[Double]("cos"))).toSeq
    val queries = emb.keySet.filter(_ < 10)
    r.res.check("property ann_ivf_topk: k, order, exact cosine",
      topKHolds(rows, emb, queries, 5))
    val q = rows.head.qid
    val mine = rows.filter(_.qid == q).sortBy(_.rnk)
    val others = rows.filter(_.qid != q)
    val extra = emb.keys.find(id => !mine.exists(_.nbr == id)).get
    val wrong = Seq(
      "a perturbed cosine" -> (others ++ mine.updated(0, mine.head.copy(cos = mine.head.cos + 1e-3))),
      "a reversed ranking" -> (others ++ mine.zip(mine.reverse).map { case (a, b) => a.copy(nbr = b.nbr, cos = b.cos) }),
      "six neighbours" -> (others ++ mine ++ (mine.size until 6).map(i =>
        Nbr(q, i + 1, extra + i, -2.0))))
    wrong.foreach { case (what, rows2) =>
      r.res.check(s"property ann_ivf_topk rejects $what", !topKHolds(rows2, emb, queries, 5))
    }
  }

  /** the DuckDB spelling of each query that has one, for perfbench/oracle.py */
  def writeOracleSql(outDir: String, queries: Seq[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = queries.filter(sql.contains)
      .map(q => s"${Json.str(q)}: ${Json.str(sql(q))}").mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), body)
  }
}
