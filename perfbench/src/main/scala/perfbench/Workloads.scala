package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.DataBag
import graft.api.alg.{Count, Fold}

/** Row types the typed pipelines read. */
case class LineRow(l_orderkey: Long, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double)
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
case class CustRow(c_custkey: Long, c_name: String, c_acctbal: Double)
case class SegRow(c_custkey: Long, c_mktsegment: String)
case class PartRow(p_partkey: Long, p_size: Int)
case class LineQtyRow(l_orderkey: Long, l_quantity: Double)

/** A pipeline's output: column names and rows of plain values. */
final case class Out(cols: Seq[String], rows: Seq[Seq[Any]])

object Out {
  def of(df: DataFrame): Out = Out(df.columns.toSeq, df.collect().toSeq.map(plain))
  def one(cols: String*)(values: Any*): Out = Out(cols, Seq(values))

  private def plain(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toList
    case v => v
  }
}

/** State shared by the pipelines of one run. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val trace: Trace) {
  def table(name: String): DataFrame = spark.read.parquet(s"$inputs/$name")
  def path(name: String): String = s"$inputs/$name"

  private var dirs = 0
  /** A fresh directory for one pipeline's persisted artifacts. */
  def freshDir(tag: String): String = {
    dirs += 1
    val d = java.nio.file.Paths.get(work, s"$tag-$dirs")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** BPE merge table trained once at set-up for the encode pipeline. */
  var merges: Seq[(String, String)] = Nil

  def span[T](module: String, name: String)(body: => T): T = trace.span(module, name)(body)
}

/** One pipeline: a name (its DuckDB oracle in oracle.py has the same name),
  * the input tables it reads, and its body. */
final case class Pipeline(name: String, tables: Seq[String], run: Ctx => Out)

object Workloads {

  def apply(name: String): Seq[Pipeline] = name match {
    case "bag_relational" => bagRelational
    case "corpus_curation" => corpusCuration
    case "state_lifecycle" => stateLifecycle
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Whole rounds a timed phase runs at least, whatever `--seconds` says,
    * so every run of a workload has the same number of latency samples.
    * The first round is each pipeline's first call in the session (JIT and
    * code generation included, as a batch job pays them); the read
    * workloads add one warm round. `state_lifecycle` is driver-bound and
    * its lifecycles run once per session in real use: one round. More
    * rounds would not fit the benchmark's time budget. */
  def minRounds(workload: String): Int = workload match {
    case "state_lifecycle" => 1
    case _ => 2
  }

  /** Work done once per set-up. */
  def prepare(workload: String, c: Ctx): Unit = workload match {
    case "corpus_curation" =>
      val (m, _) = graft.ops.Bpe.trainLocal(c.table("documents"), numMerges = 200)
      c.merges = m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    case _ =>
  }

  private def cents(x: Double): Long = math.floor(x * 100 + 0.5).toLong

  // ------------------------------------------------------------ bag_relational

  private def lines(c: Ctx) = {
    import c.spark.implicits._
    DataBag.from(c.table("lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount").as[LineRow])
  }
  private def orders(c: Ctx) = {
    import c.spark.implicits._
    DataBag.from(c.table("orders").select("o_orderkey", "o_custkey", "o_totalprice").as[OrderRow])
  }
  private def custs(c: Ctx) = {
    import c.spark.implicits._
    DataBag.from(c.table("customer").select("c_custkey", "c_name", "c_acctbal").as[CustRow])
  }

  val bagRelational: Seq[Pipeline] = Seq(
    Pipeline("rel_fold_all", Seq("lineitem"), c => {
      val r = c.span("api", "foldAll") {
        lines(c).foldAll(
          Count[LineRow](_ => true),
          Fold[LineRow, Long](0L, _.l_quantity.toLong, _ + _),
          Fold[LineRow, Long](0L, l => cents(l.l_extendedprice), _ + _),
          Fold[LineRow, Double](0.0, _.l_quantity, math.max),
          Count[LineRow](_.l_discount > 0.05))
      }
      Out(Seq("n", "qty", "price_cents", "max_qty", "n_disc"), Seq(r))
    }),

    Pipeline("rel_fold_group", Seq("orders"), c => {
      import c.spark.implicits._
      val g = c.span("api", "foldGroup") {
        orders(c).foldGroup[Long, (Long, Long)](_.o_custkey,
          Fold[OrderRow, (Long, Long)]((0L, 0L), o => (1L, cents(o.o_totalprice)),
            (a, b) => (a._1 + b._1, a._2 + b._2))).collect()
      }
      Out(Seq("o_custkey", "n_orders", "total_cents"),
        g.map(x => Seq(x.key, x.values._1, x.values._2)))
    }),

    Pipeline("rel_equi_join", Seq("orders", "customer"), c => {
      import c.spark.implicits._
      val segs = DataBag.from(c.table("customer").select("c_custkey", "c_mktsegment").as[SegRow])
      val g = c.span("api", "equiJoin") {
        orders(c).equiJoin(segs)(_.o_custkey, _.c_custkey)
          .foldGroup[String, (Long, Long)](_._2.c_mktsegment,
            Fold[(OrderRow, SegRow), (Long, Long)]((0L, 0L), p => (1L, cents(p._1.o_totalprice)),
              (a, b) => (a._1 + b._1, a._2 + b._2))).collect()
      }
      Out(Seq("c_mktsegment", "n_orders", "total_cents"),
        g.map(x => Seq(x.key, x.values._1, x.values._2)))
    }),

    Pipeline("rel_semi_anti", Seq("customer", "orders"), c => {
      import c.spark.implicits._
      val big = orders(c).withFilter(_.o_totalprice > 400000.0)
      val (semi, anti) = c.span("api", "semiJoin+antiJoin") {
        (custs(c).semiJoin(big)(_.c_custkey, _.o_custkey).size,
          custs(c).antiJoin(big)(_.c_custkey, _.o_custkey).size)
      }
      Out.one("n_semi", "n_anti")(semi, anti)
    }),

    Pipeline("rel_cross", Seq("part", "customer"), c => {
      import c.spark.implicits._
      val parts = DataBag.from(c.table("part").select("p_partkey", "p_size").as[PartRow])
        .withFilter(_.p_size == 1)
      val segs = DataBag.from(c.table("customer").select("c_mktsegment").as[String]).distinct
      val g = c.span("api", "cross") {
        parts.cross(segs).foldGroup[String, Long](_._2, Count[(PartRow, String)](_ => true))
          .collect()
      }
      Out(Seq("segment", "n"), g.map(x => Seq(x.key, x.values)))
    }),

    Pipeline("rel_set_ops", Seq("orders", "customer"), c => {
      import c.spark.implicits._
      val ordered = orders(c).map(_.o_custkey).distinct
      val rich = custs(c).withFilter(_.c_acctbal > 0.0).map(_.c_custkey)
      val r = c.span("api", "intersect+except+union") {
        (ordered.intersect(rich).size, ordered.except(rich).size, ordered.union(rich).distinct.size)
      }
      Out.one("n_intersect", "n_except", "n_union")(r._1, r._2, r._3)
    }),

    Pipeline("rel_sample", Seq("lineitem"), c => {
      import c.spark.implicits._
      val keys = lines(c).map(_.l_orderkey)
      val s = c.span("api", "sample") { keys.sample(64, seed = 42L) }
      val distinct = s.distinct
      val inSource = c.span("api", "semiJoin") {
        DataBag(distinct)(implicitly, c.spark).semiJoin(keys)(k => k, k => k).size
      }
      Out.one("n_sampled", "all_in_source")(s.size.toLong, inSource == distinct.size)
    }),

    Pipeline("comp_join", Seq("orders", "customer"), c => {
      import graft.api.comprehensions.onSpark
      import c.spark.implicits._
      val os = orders(c)
      val cs = custs(c)
      val out = c.span("comprehensions", "onSpark join") {
        onSpark {
          for {
            o <- os
            cu <- cs
            if o.o_custkey == cu.c_custkey
            if cu.c_acctbal > 9000.0
          } yield (o.o_orderkey, cu.c_name, math.floor(o.o_totalprice * 100.0).toLong)
        }.collect()
      }
      Out(Seq("o_orderkey", "c_name", "price_cents"), out.map(t => Seq(t._1, t._2, t._3)))
    }),

    Pipeline("comp_fold_group", Seq("customer", "orders"), c => {
      import graft.api.comprehensions.onSpark
      import c.spark.implicits._
      val os = orders(c)
      val cs = custs(c)
      val out = c.span("comprehensions", "onSpark foldGroup") {
        onSpark {
          for { cu <- cs; if cu.c_acctbal > 0.0 } yield (
            cu.c_custkey,
            os.count(o => o.o_custkey == cu.c_custkey && o.o_totalprice > 100000.0),
            (for { o <- os; if o.o_custkey == cu.c_custkey }
              yield (o.o_totalprice * 100 + 0.5).floor.toLong).sum)
        }.collect()
      }
      Out(Seq("c_custkey", "big_orders", "total_cents"), out.map(t => Seq(t._1, t._2, t._3)))
    }),

    Pipeline("comp_depth3", Seq("customer", "orders", "lineitem"), c => {
      import graft.api.comprehensions.onSpark
      import c.spark.implicits._
      val os = orders(c)
      val cs = custs(c)
      val ls = DataBag.from(c.table("lineitem").select("l_orderkey", "l_quantity").as[LineQtyRow])
      val out = c.span("comprehensions", "onSpark depth3") {
        onSpark {
          for {
            cu <- cs
            v <- (for {
              o <- os
              if o.o_custkey == cu.c_custkey && o.o_totalprice > 450000.0
              q <- (for {
                l <- ls
                if l.l_orderkey == o.o_orderkey && l.l_quantity > 48.0
              } yield (l.l_quantity * 100 + 0.5).floor.toLong)
            } yield q + o.o_orderkey)
          } yield (cu.c_custkey, v)
        }.collect()
      }
      Out(Seq("c_custkey", "v"), out.map(t => Seq(t._1, t._2)))
    }),

    Pipeline("lib_stats", Seq("lineitem"), c =>
      c.span("lib", "Stats.describeExact") {
        Out.of(graft.lib.Stats.describeExact(c.table("lineitem"), "l_quantity"))
      }),
  )

  // ----------------------------------------------------------- corpus_curation

  private def round4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0

  val corpusCuration: Seq[Pipeline] = Seq(
    Pipeline("normalize", Seq("documents"), c => c.span("ops", "TextAnalysis.normalize") {
      val n = graft.ops.TextAnalysis.normalize(col("text"))
      Out.of(c.table("documents").select(col("doc_id"), md5(n).as("norm_md5"),
        length(n).as("norm_len")))
    }),

    Pipeline("quality", Seq("documents"), c => c.span("ops", "TextAnalysis.qualitySignals") {
      Out.of(graft.ops.TextAnalysis.qualitySignals(c.table("documents")))
    }),

    Pipeline("near_dups", Seq("documents"), c => {
      val docs = c.table("documents")
      // MinHash LSH candidates + exact Jaccard verify, in one shingle pass
      c.span("ops", "Curation.nearDuplicates") {
        Out.of(graft.ops.Curation.nearDuplicates(docs, bands = 4, rowsPerBand = 2, minJaccard = 0.2))
      }
    }),

    Pipeline("bpe_encode", Seq("documents"), c => c.span("ops", "Bpe.encodeFast") {
      Out.of(graft.ops.Bpe.encodeFast(c.table("documents"), c.merges)
        .groupBy("doc_id").agg(count(lit(1)).as("n_words"),
          sum(length(concat_ws("", col("tokens")))).as("n_chars")))
    }),

    Pipeline("cosine_topk", Seq("embeddings"), c => c.span("ops", "Similarity.cosineTopK") {
      val emb = c.table("embeddings")
      Out.of(graft.ops.Similarity.cosineTopK(emb, emb.where(col("vec_id") < 24), k = 5))
    }),

    Pipeline("hard_negatives", Seq("embeddings"), c => c.span("ops", "Similarity.hardNegatives") {
      val emb = c.table("embeddings")
      val anchors = emb.where(col("vec_id") < 16)
      val positives = anchors.select(col("vec_id").as("anchor_id"), col("label").as("al"))
        .join(emb.select(col("vec_id").as("pos_id"), col("label").as("pl")), col("al") === col("pl"))
        .select("anchor_id", "pos_id")
      Out.of(graft.ops.Similarity.hardNegatives(emb, anchors, positives, k = 5))
    }),

    Pipeline("native_cosine", Seq("embeddings"), c => c.span("functions", "Native.cosineSim") {
      val emb = c.table("embeddings")
      val q = emb.where(col("vec_id") < 16).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Out.of(q.crossJoin(emb.select(col("vec_id").as("did"), col("embedding").as("dv")))
        .where(col("qid") =!= col("did"))
        .select(col("qid"), round4(graft.functions.Native.cosineSim(col("qv"), col("dv"))).as("sim"))
        .groupBy("qid").agg(count(when(col("sim") >= 0.9, 1)).as("n_close"),
          count(when(col("sim") >= 0.5, 1)).as("n_near")))
    }),

    Pipeline("minhash_sig", Seq("documents"), c => c.span("functions", "Native.minhashSig") {
      Out.of(c.table("documents").select(col("doc_id"), concat_ws("|",
        graft.functions.Native.minhashSig(graft.ops.Dedup.shingleArray(col("text"), 3), 8))
        .as("sig")))
    }),

    Pipeline("topk_per_key", Seq("documents"), c => c.span("plans", "TopK.perKey") {
      Out.of(graft.plans.TopK.perKey(c.table("documents"), Seq("source", "lang"),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 5)
        .select("source", "lang", "doc_id", "n_chars"))
    }),
  )

  // ----------------------------------------------------------- state_lifecycle

  private def ccEdges(c: Ctx, mod: Int): DataFrame =
    c.table("orders").where(col("o_orderkey") % 5 === 0)
      .select((col("o_custkey") % mod).as("src"), (col("o_orderkey") % mod).as("dst"))

  private def centsCol(x: Column): Column = floor(x * 100 + 0.5).cast("long")

  val stateLifecycle: Seq[Pipeline] = Seq(
    Pipeline("iterate_fixpoint", Seq("orders"), c => {
      import c.spark.implicits._
      val e = ccEdges(c, 53).where(col("src") =!= col("dst")).distinct()
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .as[(Long, Long)].cache()
      val init = und.select(col("src").as("_1"), col("src").as("_2")).distinct().as[(Long, Long)]
      val out = c.span("api", "Iterate.fixpoint") {
        graft.api.Iterate.fixpoint(init, maxIter = 60)(cur =>
          cur.union(cur.joinWith(und, cur("_1") === und("src")).map(p => (p._2._2, p._1._2)))
            .groupByKey(_._1).reduceGroups((a, b) => if (a._2 <= b._2) a else b).map(_._2))(
          (a, b) => a.except(b).isEmpty)
          .collect()
      }
      und.unpersist()
      Out(Seq("vertex", "label"), out.toSeq.map(t => Seq(t._1, t._2)))
    }),

    Pipeline("pagerank", Seq("orders"), c => c.span("lib", "Graphs.pageRankScaled") {
      Out.of(graft.lib.Graphs.pageRankScaled(ccEdges(c, 101), iterations = 5))
    }),

    Pipeline("kmeans", Seq("embeddings"), c => {
      val emb = c.table("embeddings")
      c.span("lib", "KMeans.centroids+assign") {
        val cents = graft.lib.KMeans.centroids(emb, k = 4, maxIter = 5)
        Out.of(graft.lib.KMeans.assign(emb, cents))
      }
    }),

    Pipeline("point_bag", Seq("customer", "orders"), c => {
      import c.spark.implicits._
      val base = c.table("customer").select(col("c_custkey"), centsCol(col("c_acctbal"))).as[(Long, Long)]
      val msgs = c.table("orders").where(col("o_orderkey") % 1000 < 40)
        .select(col("o_custkey"), centsCol(col("o_totalprice")), col("o_orderkey") % 3)
        .as[(Long, Long, Long)].collect()
      val ins = c.table("orders").where(col("o_orderkey") % 1000 < 5)
        .select(col("o_custkey") + 10000000L, centsCol(col("o_totalprice"))).as[(Long, Long)].collect()
      val dels = c.table("customer").where(col("c_custkey") % 97 === 0).select("c_custkey").as[Long].collect()
      val add = (_: Long, old: Option[Long], m: Long) => Some(old.getOrElse(0L) + m)
      c.span("api", "PointBag rounds") {
        val pb = graft.api.PointBag(DataBag.from(base), compactEvery = 2)
        for (r <- 0L to 2L) pb.update(msgs.filter(_._3 == r).map(t => (t._1, t._2)).toSeq)(add)
        pb.update(ins.toSeq)(add)
        pb.delete(dels.toSeq)
        Out.of(pb.bag().ds.toDF("c_custkey", "balance_cents"))
      }
    }),

    Pipeline("mutable_bag", Seq("customer", "orders"), c => {
      import c.spark.implicits._
      val base = DataBag.from(c.table("customer")
        .select(col("c_custkey"), centsCol(col("c_acctbal"))).as[(Long, Long)]).map(kv => kv)
      val msgs = DataBag.from(c.table("orders").where(col("o_orderkey") % 1000 < 40)
        .select(col("o_custkey"), centsCol(col("o_totalprice")), col("o_orderkey") % 3)
        .as[(Long, Long, Long)])
      c.span("api", "MutableBag rounds") {
        val state = graft.api.MutableBag(base)
        for (r <- 0L to 2L) {
          val round = msgs.withFilter(_._3 == r)
            .foldGroup[Long, Long](_._1, Fold[(Long, Long, Long), Long](0L, _._2, _ + _))
          state.update(round)((_, old, m: Long) => Some(old.getOrElse(0L) + m))
        }
        Out.of(state.bag().ds.toDF("c_custkey", "balance_cents"))
      }
    }),

    Pipeline("state_store", Seq("orders"), c => {
      val dir = c.freshDir("state")
      val o = c.table("orders")
      def delta(where: Column, k: Column, v: Column, del: Boolean) =
        o.where(where).select(k.as("k"), v.as("v"), lit(del).as("del"))
      val keys = (o.where(col("o_orderkey") % 997 === 0).select("o_orderkey").collect().map(_.getLong(0)) ++
        o.where(col("o_orderkey") % 7000 === 0).select("o_orderkey").collect().map(_.getLong(0) + 100000000L))
        .toSeq
      c.span("ops", "StateStore create+upsert+lookup") {
        graft.ops.StateStore.create(o.select(col("o_orderkey").as("k"), col("o_totalprice").as("v")),
          "k", 16, dir)
        val k = col("o_orderkey")
        graft.ops.StateStore.upsert(c.spark, dir,
          delta(k % 300 === 0, k, lit(0.0), del = true), Some("del"))
        graft.ops.StateStore.upsert(c.spark, dir,
          delta(k % 500 === 0 && k % 300 =!= 0, k, col("o_totalprice") * 2, del = false), Some("del"))
        graft.ops.StateStore.upsert(c.spark, dir,
          delta(k % 700 === 0, k + 100000000L, lit(1.0), del = false), Some("del"))
        Out.of(graft.ops.StateStore.lookup(c.spark, dir, keys).select("k", "v"))
      }
    }),

    Pipeline("ann_lifecycle", Seq("embeddings"), c => {
      import graft.ops.AnnIndex
      val dir = c.freshDir("ann")
      val in = IndexInputs(c)
      val got = c.span("ops", "AnnIndex lifecycle") {
        AnnIndex.save(AnnIndex.buildIvf(in.corpus, nlist = 8, maxIter = 4), dir)
        AnnIndex.appendSaved(c.spark, dir, in.batch)
        AnnIndex.deleteSaved(c.spark, dir, in.doomed.toSeq)
        AnnIndex.probe(AnnIndex.load(c.spark, dir), in.queries, k = 3, nprobe = 8)
          .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      // every cell is probed and scores are exact: each query finds both
      // of its appended near-copies
      Out.one("n_results", "appended_found", "no_deleted_returned")(
        got.size.toLong, in.planted.forall(got.contains), got.forall(p => !in.doomed.contains(p._2)))
    }),

    Pipeline("pq_lifecycle", Seq("embeddings"), c => {
      import graft.ops.PqIndex
      val dir = c.freshDir("pq")
      val in = IndexInputs(c)
      val (got, indexed) = c.span("ops", "PqIndex lifecycle") {
        PqIndex.save(PqIndex.build(in.corpus, nlist = 8, m = 8, ksub = 16, maxIter = 4), dir)
        PqIndex.appendSaved(c.spark, dir, in.batch)
        PqIndex.deleteSaved(c.spark, dir, in.doomed.toSeq)
        val loaded = PqIndex.load(c.spark, dir)
        (PqIndex.probe(loaded, in.queries, k = 10, nprobe = 4,
          rerankWith = Some(in.corpus.unionByName(in.batch)), rerankFactor = 4)
          .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))),
          loaded.codes.count())
      }
      // PQ scores are approximate, so which neighbours come back is not
      // checked; the index size after append and delete is
      Out.one("n_results", "n_indexed", "no_deleted_returned")(
        got.length.toLong, indexed, got.forall(p => !in.doomed.contains(p._2)))
    }),

    Pipeline("tokenizer_persist", Seq("documents"), c => {
      import graft.ops.Bpe
      val dir = c.freshDir("tok")
      val docs = c.table("documents")
      c.span("ops", "Bpe train+save+load+encode") {
        val (m, _) = Bpe.trainLocal(docs, numMerges = 20)
        val ms = m.orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
        val voc = Bpe.vocab(Bpe.corpusChars(docs), ms)
        Bpe.saveTokenizer(c.spark, dir, ms, voc)
        val (lms, lvoc) = Bpe.loadTokenizer(c.spark, dir)
        Out.one("n_words", "vocab_size", "merges_eq", "vocab_eq")(
          Bpe.encodeToIds(docs, lms, lvoc).count(), voc.size.toLong, lms == ms, lvoc == voc)
      }
    }),

    Pipeline("stream_latest_upsert", Seq("events"), c =>
      c.span("streaming", "Streams.latestStateUpsert") {
        val src = graft.streaming.Streams.parquetFileStream(c.spark, c.path("events"))
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("t_us"))
        Out.of(graft.streaming.Streams.latestStateUpsert(src, Seq("user_id"), Seq("t_us", "event_id")))
      }),
  )

  /** Inputs of an index lifecycle: the corpus, 8 queries, a batch holding
    * two near-copies of each query to append, and the ids to delete. */
  private final case class IndexInputs(corpus: DataFrame, queries: DataFrame, batch: DataFrame,
      doomed: Set[Long]) {
    def planted: Seq[(Long, Long)] = for (q <- 0L until 8L; j <- 1 to 2) yield (q, 3000000L + q * 10 + j)
  }

  private object IndexInputs {
    def apply(c: Ctx): IndexInputs = {
      import c.spark.implicits._
      val emb = c.table("embeddings")
      val qs = emb.where(col("vec_id") < 8)
      val batch = qs.crossJoin(Seq(1, 2).toDF("j"))
        .select((lit(3000000L) + col("vec_id") * 10 + col("j")).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.002f)).as("embedding"), lit(0).as("label"))
      val doomed = emb.where(col("vec_id") % 7 === 0 && col("vec_id") >= 8)
        .select("vec_id").as[Long].collect().toSet
      IndexInputs(emb, qs, batch, doomed)
    }
  }
}
