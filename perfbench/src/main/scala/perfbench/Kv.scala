package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.kv.{Entity, Stash}

/** `kv`: a versioned `graft.kv.Stash` under point reads and upserts.
  *
  * Set-up bulk-loads `Entities` seeded entities and saves them into
  * `Buckets` key-hashed files as version 0. Each round then issues `Gets`
  * point lookups over Zipf-skewed live keys (about 10 % misses), writes one
  * upsert batch (half overwrites, half new keys) through `addAll` + `save`
  * as the next version, and reopens the newest version with `openLatest`.
  * The run ends with `compactLatest`, then a fresh `openLatest` re-reads a
  * sample of acknowledged keys. Every read is checked against an in-memory
  * last-writer-wins model of what was acknowledged.
  */
final class KvMix(a: Main.Args) extends Workload(a) {
  val Entities = 30000
  val Buckets = 8
  val Gets = 25
  val BatchRows = 2000
  val ZipfS = 1.1
  val MissShare = 0.1

  private val root = new File(a.work, "store").getPath
  private var setupCount = 0
  private var storeRoot = ""
  private var stash: Stash = _
  private var version = 0L
  /** key index → version of its acknowledged contents. */
  private val model = mutable.HashMap.empty[Int, Int]
  private var nextIndex = 0
  private val rnd = new Random(a.seed)
  private val hot: Array[Int] = new Random(a.seed ^ 0x5eedL).shuffle((0 until Entities).toVector).toArray
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Entities)(r => 1.0 / math.pow(r + 1, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val keyIds = mutable.HashMap.empty[String, Int]
  private var upsertRows = 0L
  private var upsertMs = 0.0
  private val getKeys = ArrayBuffer.empty[String]
  private val batchUserBytes = mutable.Map.empty[Int, Long]

  def key(i: Int): String = KvMix.key(a.seed, i)
  def entity(i: Int, v: Int): Entity = KvMix.entity(a.seed, i, v)

  /** Logical size of an entity: key, field names and values at their
    * natural widths (8-byte doubles and longs, 4-byte shape ints, UTF-8
    * strings).
    */
  def userBytes(e: Entity): Long = {
    def b(s: String) = s.getBytes("UTF-8").length.toLong
    b(e.key) +
      e.tensors.map { case (k, v) => b(k) + 8L * v.length }.sum +
      e.shapes.map { case (k, v) => b(k) + 4L * v.length }.sum +
      e.scalars.keys.map(b(_) + 8L).sum +
      e.strings.map { case (k, v) => b(k) + b(v) }.sum +
      e.longs.keys.map(b(_) + 8L).sum
  }

  def prepareInputs(): Unit = {
    val session = spark
    import session.implicits._
    setupCount += 1
    storeRoot = s"$root-$setupCount"
    val seed = a.seed
    // generated on the executors and loaded through the distributed upsert
    val es = session.range(0, Entities, 1, a.cores).map(j => KvMix.entity(seed, j.toInt, 0))
    Stash.empty(session).addAll(es).save(s"$storeRoot/v0", Buckets)
    stash = Stash.open(spark, s"$storeRoot/v0")
    version = 0L
    model.clear()
    (0 until Entities).foreach(j => model(j) = 0)
    keyIds.clear()
    (0 until Entities).foreach(j => keyIds(key(j)) = j)
    nextIndex = Entities
  }

  def nominalRoundSec: Double = 5.0

  private def sampleKey(): String =
    if (rnd.nextDouble() < MissShare) f"miss-${rnd.nextLong()}%016x"
    else {
      val u = rnd.nextDouble()
      var lo = 0; var hi = Entities - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
      key(hot(lo))
    }

  private def checkGet(k: String, got: Option[Entity]): Option[String] = {
    val want = keyIds.get(k).flatMap(i => model.get(i).map(v => entity(i, v)))
    (want, got) match {
      case (None, None) => None
      case (Some(w), Some(g)) if same(w, g) => None
      case (w, g) => Some(s"get($k): want ${w.map(e => e.longs)}, got ${g.map(e => e.longs)}")
    }
  }

  private def same(x: Entity, y: Entity): Boolean =
    x.key == y.key && x.scalars == y.scalars && x.strings == y.strings && x.longs == y.longs &&
      x.tensors.keySet == y.tensors.keySet &&
      x.tensors.forall { case (k, v) => v.sameElements(y.tensors(k)) } &&
      x.shapes.keySet == y.shapes.keySet &&
      x.shapes.forall { case (k, v) => v.sameElements(y.shapes(k)) }

  def round(h: Harness, r: Int): Unit = {
    val session = spark
    import session.implicits._
    (1 to Gets).foreach { _ =>
      val k = sampleKey()
      getKeys += k
      val name = if (keyIds.contains(k)) "hit" else "miss"
      h.op("get", name, r) {
        val got = h.span("collect")(stash.get(k))
        () => checkGet(k, got)
      }
    }
    // one upsert batch: half overwrites of live keys, half new keys
    val next = version + 1
    val rows = (0 until BatchRows).map { j =>
      val i = if (j % 2 == 0) rnd.nextInt(nextIndex) else { nextIndex += 1; nextIndex - 1 }
      (i, entity(i, next.toInt))
    }
    val s = h.op("upsert", s"v$next", r) {
      val ds = session.createDataset(rows.map(_._2))
      val merged = h.span("build")(stash.addAll(ds))
      h.span("collect")(merged.save(s"$storeRoot/v$next", Buckets))
      () => None
    }
    val batchBytes = rows.map(x => userBytes(x._2)).sum
    batchUserBytes(s.id) = batchBytes
    if (s.ok) {
      rows.foreach { case (i, e) => model(i) = next.toInt; keyIds(e.key) = i }
      if (h.window == "plain") { upsertRows += rows.length; upsertMs += s.ms }
      version = next
    }
    h.op("open", "openLatest", r) {
      val (st, v) = h.span("build")(Stash.openLatest(spark, storeRoot))
      stash = st
      () => if (v == version) None else Some(s"openLatest returned v$v, want v$version")
    }
  }

  private def dirBytes(d: String): (Long, Int) = {
    val files = Option(new File(d).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length)
  }

  override def finish(h: Harness): Unit = {
    val (bytes, files) = dirBytes(s"$storeRoot/v$version")
    val live = model.iterator.map { case (i, v) => userBytes(entity(i, v)) }.sum
    extra("kv.store_bytes") = bytes
    extra("kv.live_user_bytes") = live
    extra("kv.files_per_version") = files
    extra("kv.upsert_rows") = upsertRows
    extra("kv.upsert_ms") = upsertMs
    val c = h.op("compact", "compactLatest", 0) {
      val v = Stash.compactLatest(spark, storeRoot, Buckets)
      () => if (v == version + 1) None else Some(s"compactLatest returned v$v, want v${version + 1}")
    }
    if (c.ok) version += 1
    // durability: a fresh open must serve every acknowledged key it is asked for
    val sample = new Random(a.seed + 17).shuffle(model.keys.toVector).take(8)
    h.op("durability", "reopen", 0) {
      val (st, v) = Stash.openLatest(spark, storeRoot)
      val bad = sample.flatMap(i => checkGet(key(i), st.get(key(i))))
      () => if (v != version) Some(s"reopen saw v$v, want v$version")
        else bad.headOption.map(b => s"${bad.size} of ${sample.size} acknowledged keys wrong, first: $b")
    }
    extra("kv.ref_dir") = s"$storeRoot/v$version"
    extra("kv.ref_keys") = getKeys.take(40).toSeq
  }

  override def traceFields(s: OpSample): Map[String, Any] =
    batchUserBytes.get(s.id).map(b => "user_bytes" -> b).toMap
}

object KvMix {
  val Dim = 32

  def key(seed: Long, i: Int): String = f"user-${(seed * 1000003L + i) * 0x9E3779B97F4A7C15L}%016x"

  /** Contents of key `i` as written by version `v` (deterministic). */
  def entity(seed: Long, i: Int, v: Int): Entity = {
    val r = new Random(seed * 31L + i * 131L + v)
    Entity(key(seed, i),
      tensors = Map("emb" -> Array.fill(Dim)(r.nextGaussian())),
      shapes = Map("emb" -> Array(Dim)),
      scalars = Map("score" -> r.nextDouble(), "weight" -> r.nextInt(1000).toDouble),
      strings = Map("name" -> s"name-$i", "tag" -> s"tag-${r.nextInt(50)}"),
      longs = Map("version" -> v.toLong))
  }
}
