package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}

/** One workload's generator parameters from `workloads.json`; the `smoke`
  * block overrides the full-size values in smoke mode. */
final class Params(node: JsonNode, smoke: Boolean) {
  private def pick(k: String): JsonNode = {
    val s = node.get("smoke")
    if (smoke && s != null && s.has(k)) s.get(k) else {
      require(node.has(k), s"workloads.json: missing '$k'")
      node.get(k)
    }
  }
  def int(k: String): Int = pick(k).asInt()
  def double(k: String): Double = pick(k).asDouble()
  def str(k: String): String = pick(k).asText()
  def strs(k: String): Seq[String] = {
    val it = pick(k).elements(); val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next().asText()
    b.result()
  }
  def bindings: Map[String, Seq[String]] = {
    val it = pick("bindings").fields(); val b = Map.newBuilder[String, Seq[String]]
    while (it.hasNext) {
      val e = it.next(); val ts = e.getValue.elements(); val v = Seq.newBuilder[String]
      while (ts.hasNext) v += ts.next().asText()
      b += e.getKey -> v.result()
    }
    b.result()
  }
}

object Params {
  /** `overrides` replace parameters by name, in the full-size and the smoke
    * block alike; each value is read as JSON, else taken as a string. */
  def load(file: Path, workload: String, smoke: Boolean,
      overrides: Map[String, String] = Map.empty): Params = {
    val json = new ObjectMapper()
    val root = json.readTree(file.toFile)
    require(root.has(workload), s"unknown workload '$workload'")
    val node = root.get(workload).deepCopy[ObjectNode]()
    overrides.foreach { case (k, v) =>
      require(node.has(k), s"workloads.json: no parameter '$k' to override")
      val value = try json.readTree(v) catch { case _: Exception => TextNode.valueOf(v) }
      node.set[JsonNode](k, value)
      Option(node.get("smoke")).collect { case s: ObjectNode if s.has(k) => s.set[JsonNode](k, value) }
    }
    new Params(node, smoke)
  }
}

/** A record in the Kafka source's column contract. `tsMs` becomes the
  * record timestamp; the generator keeps it strictly increasing. */
final case class KRec(topic: String, partition: Int, offset: Long,
    key: String, value: String, headers: Seq[(String, String)], tsMs: Long)

/** Assigns Kafka partitions by key hash and per-partition offsets, and
  * stamps strictly increasing record timestamps. */
final class Producer(baseMs: Long, partitions: Int = 8) {
  private val offsets = Array.fill(partitions)(0L)
  private var seq = 0L
  def send(topic: String, key: String, value: String): KRec = {
    val p = (key.hashCode & Int.MaxValue) % partitions
    val r = KRec(topic, p, offsets(p), key, value, Nil, baseMs + seq)
    offsets(p) += 1; seq += 1
    r
  }
}

object Gen {
  /** Fixed epoch of generated record timestamps: inputs depend on the seed
    * only, never on the wall clock. */
  val BaseMs = 1700000000000L

  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.result()
  }
  private def q(s: String): String = if (s == null) "null" else "\"" + esc(s) + "\""

  def jsonLine(r: KRec): String =
    s"""{"topic":${q(r.topic)},"partition":${r.partition},"offset":${r.offset},"key":${q(r.key)},"value":${q(r.value)},"headers":[${r.headers.map { case (k, v) => s"""{"key":${q(k)},"value":${q(v)}}""" }.mkString(",")}],"timestamp":${r.tsMs}}"""

  /** Write records as one JSON-lines file, made visible by an atomic rename
    * so a streaming file source never lists a partial file. Returns the
    * bytes written. */
  def writeFile(dir: Path, name: String, recs: Seq[KRec], digest: MessageDigest): Long = {
    val bytes = recs.map(r => jsonLine(r) + "\n").mkString.getBytes(UTF_8)
    digest.update(name.getBytes(UTF_8)); digest.update(bytes)
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  def hex(d: MessageDigest): String = d.digest().map(b => f"${b & 0xff}%02x").mkString

  // ------------------------------------------------------------- documents

  /** In-domain vocabulary (the test corpus's words) and an out-of-domain
    * one the quality gate's histogram has not seen as target text. */
  val Domain: Array[String] = ("batch part spark line column order small sort fast value " +
    "scan a hash slow group agg filter query big key window row table stream merge " +
    "data the join vector customer").split(' ')
  val Foreign: Array[String] = ("lorem ipsum dolor sit amet consectetur adipiscing elit " +
    "sed eiusmod tempor incididunt labore dolore magna aliqua enim minim veniam " +
    "quis nostrud exercitation ullamco laboris nisi aliquip commodo consequat").split(' ')

  def text(r: SplittableRandom, vocab: Array[String], minT: Int, maxT: Int): String =
    Seq.fill(minT + r.nextInt(maxT - minT + 1))(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** Replace one token: a near duplicate whose 3-shingle Jaccard with the
    * source stays high enough for 16x4 banding to catch it. */
  def perturb(r: SplittableRandom, t: String): String = {
    val toks = t.split(' ')
    toks(r.nextInt(toks.length)) = Domain(r.nextInt(Domain.length))
    toks.mkString(" ")
  }

  /** One generated document record: `key` is also its index in
    * [[Docs.all]]; `file` the input file it went to; `root` the key of the
    * fresh text it was copied or perturbed from (its own key when fresh);
    * `inDomain` whether that root text is in-domain. */
  final case class Doc(key: Long, file: Int, partition: Int, offset: Long, text: String,
      root: Long, inDomain: Boolean) {
    def fresh: Boolean = root == key
  }

  /** The gated stream's documents: each record's kind is drawn from the
    * exact / near / out-of-domain shares; repeats copy an earlier record's
    * text, near duplicates perturb it, and both join its root's family. */
  final class Docs(p: Params, seed: Long) {
    private val r = new SplittableRandom(seed)
    private val prod = new Producer(BaseMs)
    private val minT = p.int("min_tokens"); private val maxT = p.int("max_tokens")
    private val exact = p.double("exact_share"); private val near = p.double("near_share")
    private val ood = p.double("ood_share")
    private var files = 0
    /** Every record generated so far, in key order. */
    val all = scala.collection.mutable.ArrayBuffer[Doc]()
    def nextFile(n: Int): Seq[KRec] = {
      val file = files; files += 1
      Seq.fill(n) {
        val u = r.nextDouble()
        val k = all.size.toLong
        def from(src: Doc, t: String) = (t, src.root, src.inDomain)
        val (t, root, in) =
          if (all.nonEmpty && u < exact) { val s = all(r.nextInt(all.size)); from(s, s.text) }
          else if (all.nonEmpty && u < exact + near) { val s = all(r.nextInt(all.size)); from(s, perturb(r, s.text)) }
          else if (u < exact + near + ood) (text(r, Foreign, minT, maxT), k, false)
          else (text(r, Domain, minT, maxT), k, true)
        val rec = prod.send("docs", k.toString, t)
        all += Doc(k, file, rec.partition, rec.offset, t, root, in)
        rec
      }
    }
  }

  /** The histogram's training corpora: in-domain target text, and a raw
    * mix of in-domain and out-of-domain text. */
  def histogramCorpora(p: Params, seed: Long): (Seq[String], Seq[String]) = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val n = p.int("histogram_docs")
    val minT = p.int("min_tokens"); val maxT = p.int("max_tokens")
    val target = Seq.fill(n)(text(r, Domain, minT, maxT))
    val raw = Seq.fill(n)(text(r, if (r.nextBoolean()) Domain else Foreign, minT, maxT))
    (target, raw)
  }

  /** The curation table: documents with exact and near duplicates and a
    * shared boilerplate span, so the span and pair queries have work. The
    * shares are exact counts at seeded positions, so the queries' work
    * varies little from seed to seed. */
  def corpus(p: Params, seed: Long): Seq[(Long, String, String, String)] = {
    val r = new SplittableRandom(seed)
    val n = p.int("documents")
    val minT = p.int("min_tokens"); val maxT = p.int("max_tokens")
    def pick(share: Double): Set[Int] = {
      val ids = Array.range(1, n)
      (ids.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids.take(math.round(n * share).toInt).toSet
    }
    val repeats = pick(p.double("exact_share") + p.double("near_share")).toSeq.sorted
    val exact = repeats.take(math.round(n * p.double("exact_share")).toInt).toSet
    val near = repeats.toSet -- exact
    val boilerplate = pick(p.double("boilerplate_share"))
    val boiler = text(r, Domain, 12, 12)
    val langs = Array("en", "fr", "de", "zh", "es")
    // repeats copy originals only, never another repeat: no chains of
    // near duplicates, so the cluster query's label propagation runs the
    // same few rounds on every seed
    val originals = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val t0 =
        if (exact(i)) originals(r.nextInt(originals.size))
        else if (near(i)) perturb(r, originals(r.nextInt(originals.size)))
        else text(r, Domain, minT, maxT)
      val t = if (boilerplate(i)) t0 + " " + boiler else t0
      if (!exact(i) && !near(i)) originals += t
      (i.toLong, t, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}")
    }
  }
}
