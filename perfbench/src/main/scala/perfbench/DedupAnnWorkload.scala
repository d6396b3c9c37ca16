package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Similarity, Text}

/** The training-data index pipeline: a MinHash near-dup index and an IVF
  * vector index take an appended batch each (write phase); incoming
  * documents are looked up exactly and near-exactly, their matches are
  * collapsed into components, and a batch of IVF probes runs (read phase).
  * Shingling, hashing, dot products and the shuffle do the work here;
  * `graft.uts` is never entered.
  *
  * Inputs (scale 1): a corpus of 2,000 documents of 200 words drawn from
  * a 6,000-word vocabulary, indexed at set-up; an ingest batch of 300
  * documents appended every pass; 1,000 incoming documents looked up every
  * pass: 60 one-word edits of indexed documents (three edits each of 12
  * corpus documents, single edits of 8 corpus and 16 appended documents),
  * 100 copies of incoming documents in other casing and spacing, and 840
  * fresh documents. Vectors: 4,800 of 128 dimensions in 16 Gaussian
  * clusters of equal size, 320 appended every pass, and 3 probes for the 10
  * nearest: an appended vector and a fresh query at nprobe 4, and a fresh
  * query at nprobe 16 (every cluster). Few, long rows keep the job count
  * low and the kernels busy. The seed moves words and coordinates only.
  */
final class DedupAnnWorkload extends Workload {
  import DedupAnnWorkload._

  private val N = 3 // shingle width, in words
  private val Threshold = 0.7
  private val NumHashes = 16
  private val Bands = 8
  private val NBuckets = 8
  private val K = 10
  private val Clusters = 16
  private val Dim = 128
  private val NProbe = 4

  private var dir: Path = _
  private var corpus: Vector[Doc] = Vector.empty
  private var appendDocs: Vector[Doc] = Vector.empty
  private var incoming: Vector[Doc] = Vector.empty
  private var plantedNear: Vector[(Long, Long)] = Vector.empty // (incoming, indexed)
  private var vectors: Vector[Vec] = Vector.empty
  private var appendVecs: Vector[Vec] = Vector.empty
  private var probes: Vector[(Vec, Int)] = Vector.empty // (query, nprobe)

  private var survivors: Seq[Row] = Nil
  private var pairs: Seq[Row] = Nil
  private var components: Seq[Row] = Nil
  private var probeRows: Vector[Seq[Row]] = Vector.empty
  private var recall = 0.0

  private def gen(ctx: Ctx): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 104729L + 3)
    val vocab = (0 until 6000).map(i => Word(i)).toVector
    def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def edit(ws: Vector[String]): Vector[String] = ws.updated(rnd.nextInt(ws.size), vocab(rnd.nextInt(vocab.size)))
    val nCorpus = ctx.scaled(2000)
    corpus = (0 until nCorpus).map(i => Doc(i.toLong, words(200))).toVector
    appendDocs = (0 until ctx.scaled(300)).map(i => Doc(1000000L + i, words(200))).toVector
    var id = 2000000L
    def next(ws: Vector[String]): Doc = { id += 1; Doc(id, ws) }
    val near = Vector.newBuilder[Doc]
    val planted = Vector.newBuilder[(Long, Long)]
    def plant(src: Doc): Unit = { val d = next(edit(src.words)); near += d; planted += d.id -> src.id }
    (0 until ctx.scaled(12)).foreach { _ => val src = corpus(rnd.nextInt(nCorpus)); (0 until 3).foreach(_ => plant(src)) }
    (0 until ctx.scaled(8)).foreach(_ => plant(corpus(rnd.nextInt(nCorpus))))
    (0 until ctx.scaled(16)).foreach(_ => plant(appendDocs(rnd.nextInt(appendDocs.size))))
    val fresh = (0 until ctx.scaled(840)).map(_ => next(words(200)))
    val originals = near.result() ++ fresh
    // Exact copies that differ only in casing and spacing.
    val copies = (0 until ctx.scaled(100)).map { _ =>
      val o = originals(rnd.nextInt(originals.size))
      id += 1
      Doc(id, o.words, Some(o.words.map(w => if (rnd.nextBoolean()) w.toUpperCase else w).mkString("  ") + " "))
    }
    incoming = originals ++ copies
    plantedNear = planted.result()

    val centers = Vector.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian()))
    def vec(id: Long, c: Int): Vec = Vec(id, c, centers(c).map(x => x + 0.35 * rnd.nextGaussian()))
    val perCluster = ctx.scaled(300)
    vectors = (0 until Clusters * perCluster).map(i => vec(i.toLong, i % Clusters)).toVector
    appendVecs = (0 until ctx.scaled(20) * Clusters).map(i => vec(1000000L + i, i % Clusters)).toVector
    probes = Vector(appendVecs(appendVecs.size / 3) -> NProbe) ++
      (0 until 2).map { i =>
        val q = vec(-1L - i, rnd.nextInt(Clusters))
        q -> (if (i == 0) NProbe else Clusters)
      }
  }

  private def docs(ctx: Ctx, ds: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(ds.map(d => Row(d.id, d.text)).asJava, DocSchema)
  private def vecs(ctx: Ctx, vs: Seq[Vec]): DataFrame =
    ctx.spark.createDataFrame(vs.map(v => Row(v.id, v.label, v.x.toSeq)).asJava, VecSchema)

  private def path(p: String): String = dir.resolve(p).toString

  def setup(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("dedup_ann")
    gen(ctx)
    // What a pass reads lands as parquet, one file per batch, as ingest
    // batches would; the indexes are built straight from the generated rows,
    // one partition each, as from one corpus file.
    docs(ctx, appendDocs).coalesce(1).write.parquet(path("in/append"))
    docs(ctx, incoming).coalesce(1).write.parquet(path("in/incoming"))
    vecs(ctx, appendVecs).coalesce(1).write.parquet(path("in/append_vectors"))
    Dedup.minhashIndexBuild(docs(ctx, corpus).coalesce(1), path("base/minhash"), N, NumHashes,
      Bands, NBuckets)
    Similarity.ivfBuild(vecs(ctx, vectors).coalesce(1), path("base/ivf"))
  }

  def reset(ctx: Ctx): Unit = {
    Files2.delete(dir.resolve("live"))
    Files2.copyTree(dir.resolve("base"), dir.resolve("live"))
  }

  def storedBytes: Long = Files2.sizeBytes(dir.resolve("live"))

  def writePhase(ctx: Ctx): Unit = {
    val sp = ctx.spark
    ctx.op("minhash_append") {
      ctx.span("dedup", "dedup.append") {
        Dedup.minhashIndexAppend(sp.read.parquet(path("in/append")), path("live/minhash"))
      }
    }
    ctx.op("ivf_append") {
      ctx.span("ann", "ann.append") {
        Similarity.ivfAppend(sp.read.parquet(path("in/append_vectors")), path("live/ivf"))
      }
    }
  }

  def readPhase(ctx: Ctx): Unit = {
    val sp = ctx.spark
    val in = sp.read.parquet(path("in/incoming"))
    ctx.op("exact_dedup") {
      survivors = ctx.span("dedup", "dedup.probe") {
        Dedup.hashed(Text.normalize(in), "norm_text").collect().toSeq.sortBy(_.getLong(0))
      }
      ctx.output("exact_dedup", survivors)
    }
    var pairFrame: DataFrame = null
    ctx.op("near_dup") {
      pairs = ctx.span("dedup", "dedup.probe") {
        pairFrame = Dedup.nearDupAgainst(in, path("live/minhash"), N, Threshold, NumHashes, Bands, NBuckets)
        pairFrame.collect().toSeq
      }
      ctx.output("near_dup", pairs)
    }
    ctx.op("components") {
      components = ctx.span("dedup", "dedup.cc") {
        val edges = sp.createDataFrame(pairs.asJava, pairFrame.schema)
        val vertices = edges.select(col("new_id").as("id"))
          .union(edges.select(col("ref_id").as("id"))).distinct()
        Dedup.connectedComponents(vertices, edges, srcCol = "new_id", dstCol = "ref_id")
          .collect().toSeq.sortBy(_.getLong(0))
      }
      ctx.output("components", components)
    }
    probeRows = probes.zipWithIndex.map { case ((q, np), i) =>
      var rows: Seq[Row] = Nil
      ctx.op("ivf_probe") {
        rows = ctx.span("ann", "ann.probe") {
          Similarity.ivfProbePersisted(sp, path("live/ivf"), q.x, K, np).collect().toSeq
        }
        ctx.output(s"ivf_probe_$i", rows)
      }
      rows
    }
  }

  override def passCounts: Map[String, Double] = Map("dedup.pairs" -> pairs.size.toDouble)
  override def checkValues: Map[String, Double] = Map("ann.recall_at_k" -> recall)

  // ------------------------------------------------------------- checks

  /** Word n-gram Jaccard, recomputed from the texts as stored. */
  private def jaccard(a: Doc, b: Doc): Double = {
    def sh(d: Doc) = d.text.split(' ').filter(_.nonEmpty).sliding(N).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    def dot(p: Array[Double], q: Array[Double]) = { var s = 0.0; var i = 0; while (i < p.length) { s += p(i) * q(i); i += 1 }; s }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  def check(ctx: Ctx): Seq[String] = {
    val errs = Seq.newBuilder[String]
    // Exact dedup: one survivor, the smallest id, per distinct normalised text.
    val wantSurvivors = incoming.groupBy(_.norm).values.map(g => (g.map(_.id).min, g.size.toLong)).toSeq.sorted
    val gotSurvivors = survivors.map(r => (r.getLong(0), r.getLong(1))).sorted
    if (gotSurvivors != wantSurvivors)
      errs += s"exact_dedup: ${gotSurvivors.size} survivors, expected ${wantSurvivors.size} distinct normalised texts"
    // Near-dup pairs: each at or above the threshold, recomputed (the
    // reported value is rounded to 4 places); each planted edit found.
    val byId = (corpus ++ appendDocs ++ incoming).map(d => d.id -> d).toMap
    val got = pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.find { case (a, b, j) =>
      val exact = jaccard(byId(a), byId(b))
      exact < Threshold - 5e-5 || math.abs(exact - j) > 5e-5
    }.foreach { case (a, b, j) => errs += s"near_dup: pair ($a, $b) reported $j, recomputed ${jaccard(byId(a), byId(b))}" }
    val found = got.map(p => (p._1, p._2)).toSet
    val missed = plantedNear.filterNot(found)
    if (missed.nonEmpty) errs += s"near_dup: ${missed.size} planted near-duplicates missed, e.g. ${missed.head}"
    // Components: a union-find over the reported pairs.
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    got.foreach { case (a, b, _) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val ids = got.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val minOf = ids.groupBy(find).map { case (r, m) => r -> m.min }
    val wantCc = ids.map(i => Seq[Any](i, minOf(find(i))))
    errs ++= Same.rows("components", components.map(_.toSeq), wantCc)
    // IVF probes.
    val all = vectors ++ appendVecs
    val vecById = all.map(v => v.id -> v.x).toMap
    def round4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    var hits = 0; var wanted = 0
    probes.zip(probeRows).zipWithIndex.foreach { case (((q, np), rows), i) =>
      val res = rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
      val brute = all.map(v => (v.id, round4(cosine(v.x, q.x)))).sortBy(p => (-p._2, p._1)).take(K)
      if (res.size != K) errs += s"ivf_probe_$i: ${res.size} results, expected $K"
      res.find { case (id, s) => vecById.get(id).forall(x => math.abs(cosine(x, q.x) - s) > 5e-5) }
        .foreach { case (id, s) => errs += s"ivf_probe_$i: score $s of $id is not its cosine" }
      if (res.map(_._2) != res.map(_._2).sorted(Ordering[Double].reverse))
        errs += s"ivf_probe_$i: results not in score order"
      if (q.id >= 0 && !res.headOption.exists(_._1 == q.id))
        errs += s"ivf_probe_$i: appended vector ${q.id} did not find itself first"
      if (np == Clusters && res.map(_._1) != brute.map(_._1))
        errs += s"ivf_probe_$i: probe of all clusters differs from brute-force top-$K"
      if (q.id < 0 && np == NProbe) { hits += res.map(_._1).intersect(brute.map(_._1)).size; wanted += K }
    }
    recall = if (wanted == 0) 0.0 else hits.toDouble / wanted
    errs.result()
  }
}

object DedupAnnWorkload {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** A synthetic word: the index spelled in base 26, so every word is
    * lower-case letters and distinct.
    */
  object Word {
    def apply(i: Int): String = {
      val sb = new StringBuilder
      var x = i + 26
      while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
      sb.toString
    }
  }

  final case class Doc(id: Long, words: Vector[String], raw: Option[String] = None) {
    def text: String = raw.getOrElse(words.mkString(" "))
    def norm: String = words.mkString(" ")
  }
  final case class Vec(id: Long, label: Int, x: Array[Double])
}
