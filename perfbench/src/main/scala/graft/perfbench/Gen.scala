package graft.perfbench

import java.io.{File, PrintWriter}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input of every workload comes from
  * here, so the same seed gives the same inputs. Shapes follow the
  * engine's testdata: TPC-H-like star tables, `documents` (doc_id,
  * text, lang, source, n_chars) over a small technical vocabulary, and
  * `embeddings` (vec_id, 64-dim float vector, label) drawn around ten
  * label centroids. */
object Gen {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch",
    "stream", "spark", "query", "row", "data", "filter", "group", "agg",
    "line", "value", "column", "customer", "vector", "index", "shuffle",
    "plan", "cache", "store", "epoch", "commit", "fold", "probe", "rank",
    "token", "shard", "page", "block", "frame", "node", "edge", "graph")
  val Langs = IndexedSeq("en", "en", "zh", "de", "fr", "es")
  val Dim = 64
  val Labels = 10

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** An independent stream for (seed, k): mixed, so consecutive k do
    * not start with correlated draws as raw `new Random(seed + k)` would. */
  def rng(seed: Long, k: Long): Random =
    new Random(scala.util.hashing.byteswap64(seed * 0x9E3779B97F4A7C15L + k))

  def text(r: Random, nWords: Int): String =
    Seq.fill(nWords)(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  def doc(r: Random, id: Long): Doc =
    Doc(id, text(r, 40 + r.nextInt(50)), Langs(r.nextInt(Langs.size)),
      s"src${id % 20}")

  /** A near-duplicate: the original with two words replaced — the
    * long verbatim runs survive, so winnowing and shingle clustering
    * both pick it up. */
  def nearDup(r: Random, id: Long, of: Doc): Doc = {
    val w = of.text.split(' ')
    w(r.nextInt(w.length)) = "zz" + r.nextInt(100)
    w(r.nextInt(w.length)) = "yy" + r.nextInt(100)
    Doc(id, w.mkString(" "), of.lang, of.source)
  }

  /** Fails the engine's repetition quality filter. */
  def spam(id: Long): Doc =
    Doc(id, Seq.fill(40)("spam ham").mkString(" "), "en", s"src${id % 20}")

  def docsDf(s: SparkSession, docs: Seq[Doc]): DataFrame = {
    import s.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // ---- embeddings ----

  final case class Vec(id: Long, v: Array[Float], label: Int)

  def centroids(seed: Long): IndexedSeq[Array[Double]] = {
    val r = new Random(seed * 31 + 7)
    IndexedSeq.fill(Labels)(Array.fill(Dim)(r.nextGaussian()))
  }

  def vec(r: Random, cents: IndexedSeq[Array[Double]], id: Long): Vec = {
    val l = r.nextInt(Labels)
    Vec(id, Array.tabulate(Dim)(i =>
      (cents(l)(i) + 0.7 * r.nextGaussian()).toFloat), l)
  }

  def nearDupVec(r: Random, id: Long, of: Vec): Vec =
    Vec(id, of.v.map(x => (x + 0.01 * r.nextGaussian()).toFloat), of.label)

  def vecsDf(s: SparkSession, vs: Seq[Vec]): DataFrame = {
    import s.implicits._
    vs.map(v => (v.id, v.v.toSeq, v.label)).toDF("vec_id", "embedding", "label")
  }

  def centroidsDf(s: SparkSession, cents: IndexedSeq[Array[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cent_id", "cemb")
  }

  /** Exact cosine top-k over `corpus`, 4-dp rounded like the engine's
    * reranked scores; ties broken by id. */
  def exactTopK(q: Vec, corpus: Seq[Vec], k: Int): Seq[Long] = {
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    val qn = norm(q.v)
    corpus.map { c =>
      var dot = 0.0; var i = 0
      while (i < Dim) { dot += q.v(i).toDouble * c.v(i); i += 1 }
      val cos = math.round(dot / (qn * norm(c.v)) * 1e4) / 1e4
      (c.id, cos)
    }.sortBy { case (id, cos) => (-cos, id) }.take(k).map(_._1)
  }

  // ---- star schema (TPC-H-like, key-offset scale-up) ----

  final case class Star(lineitem: Int, orders: Int, customers: Int,
                        parts: Int, suppliers: Int, dupFrac: Double)

  /** Writes the base star under `base` and its key-offset ×`factor`
    * replica under `out`; returns the expected fact row count (distinct
    * lineitem rows × factor) and the expected brand-dimension rows. */
  def writeStar(s: SparkSession, r: Random, st: Star, base: String,
                out: String, factor: Int): (Long, Long) = {
    import s.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(days: Int) = new java.sql.Timestamp(t0 + days * 86400000L)
    val cust = (1 to st.customers).map(k => (k.toLong, f"Customer#$k%09d",
      r.nextInt(25), r.nextInt(10000) / 1.0, s"SEG${r.nextInt(5)}"))
    val brands = (1 to st.parts).map(_ => s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}")
    val part = (1 to st.parts).map(k => (k.toLong, s"part ${Vocab(r.nextInt(Vocab.size))} $k",
      brands(k - 1), s"TYPE${r.nextInt(20)}", 1 + r.nextInt(50), 900.0 + k % 1000))
    val supp = (1 to st.suppliers).map(k => (k.toLong, f"Supplier#$k%09d",
      r.nextInt(25), r.nextInt(10000) / 1.0))
    val ord = (1 to st.orders).map(k => (k.toLong,
      1L + r.nextInt(st.customers), "OFP".charAt(r.nextInt(3)).toString,
      r.nextInt(500000) / 1.0, ts(r.nextInt(2000)), s"${1 + r.nextInt(5)}-PRI"))
    val li0 = (0 until st.lineitem).map { i =>
      (1L + r.nextInt(st.orders), 1L + r.nextInt(st.parts),
        1L + r.nextInt(st.suppliers), 1 + i % 7, 1.0 + r.nextInt(50),
        r.nextInt(100000) / 1.0, r.nextInt(10) / 100.0, r.nextInt(8) / 100.0,
        "RAN".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        ts(r.nextInt(2000)))
    }
    // planted exact duplicates feed the fact build's full-row dedup
    val dups = (0 until (st.lineitem * st.dupFrac).toInt)
      .map(_ => li0(r.nextInt(li0.size)))
    val li = li0 ++ dups
    val distinct = li.distinct.size.toLong
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$base/customer.parquet")
    part.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$base/part.parquet")
    supp.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$base/supplier.parquet")
    ord.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority").write.parquet(s"$base/orders.parquet")
    li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate").write.parquet(s"$base/lineitem.parquet")
    // scale-up: replica k shifts every key by k × the base key range,
    // so replicas join only among themselves
    val keys = Map("customer" -> Seq("c_custkey" -> st.customers),
      "part" -> Seq("p_partkey" -> st.parts),
      "supplier" -> Seq("s_suppkey" -> st.suppliers),
      "orders" -> Seq("o_orderkey" -> st.orders, "o_custkey" -> st.customers),
      "lineitem" -> Seq("l_orderkey" -> st.orders, "l_partkey" -> st.parts,
        "l_suppkey" -> st.suppliers))
    keys.foreach { case (t, ks) =>
      val b = s.read.parquet(s"$base/$t.parquet")
      (0 until factor).map { k =>
        ks.foldLeft(b) { case (df, (c, range)) =>
          df.withColumn(c, col(c) + lit(k.toLong * range)) }
      }.reduce(_ unionByName _).write.parquet(s"$out/$t.parquet")
    }
    (distinct * factor, brands.distinct.size.toLong)
  }

  // ---- landing JSON (Spotify shape) ----

  /** Writes seeded playlists/tracks landing documents for `nUsers`
    * users and returns the expected fact_songs row count: one row per
    * (playlist, track, artist) — generated ids are unique, so no row
    * is a full duplicate. */
  def writeLanding(r: Random, landing: String, date: String,
                   nUsers: Int): Long = {
    def q(x: String) = "\"" + x + "\""
    val pl = new File(s"$landing/spotify/playlists/$date"); pl.mkdirs()
    val tr = new File(s"$landing/spotify/tracks/$date"); tr.mkdirs()
    val pw = new PrintWriter(new File(pl, "part-00000.json"))
    val tw = new PrintWriter(new File(tr, "part-00000.json"))
    var rows = 0L
    try (1 to nUsers).foreach { u =>
      val user = f"user_$u%03d"
      val pids = (0 to r.nextInt(3)).map(p => s"pl_${user}_$p")
      pw.println(s"""{"spotify_id":${q(user)},"playlists":[""" +
        pids.map(p => s"""{"id":${q(p)},"name":${q("Playlist " + r.nextInt(50))}}""")
          .mkString(",") + "]}")
      pids.foreach { pid =>
        val tracks = (0 until 1 + r.nextInt(6)).map { t =>
          val tid = s"tr_${pid}_$t"
          val local = r.nextInt(10) == 0
          val artists =
            if (local) Seq("null" -> "Local Artist")
            else (0 to r.nextInt(2)).map { _ =>
              val a = r.nextInt(nUsers * 2); q(s"ar_$a") -> s"Artist $a"
            }.distinct
          rows += artists.size
          s"""{"added_at":${q(f"2024-0${1 + t % 9}-15T12:00:0${t % 10}Z")},""" +
            s""""is_local":$local,"id":${q(tid)},""" +
            s""""name":${q("Track " + r.nextInt(nUsers * 3))},""" +
            s""""duration_ms":${180000 + r.nextInt(60000)},"explicit":${r.nextBoolean()},""" +
            s""""album":{"id":${q("al_" + pid)},"name":${q("Album " + r.nextInt(40))},""" +
            s""""release_date":"2024-01-01","total_tracks":${10 + t},""" +
            s""""images":[{"url":${q("http://img/" + tid)},"height":64,"width":64}]},""" +
            s""""artists":[""" + artists.map { case (id, n) =>
              s"""{"id":$id,"name":${q(n)}}""" }.mkString(",") + "]}"
        }
        tw.println(s"""{"playlist_id":${q(pid)},"tracks":[${tracks.mkString(",")}]}""")
      }
    } finally { pw.close(); tw.close() }
    rows
  }
}
