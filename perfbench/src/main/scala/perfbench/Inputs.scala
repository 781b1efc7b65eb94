package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Input sizes. `full` is what the benchmark measures; `tiny` keeps the
  * same shapes at a size the benchmark's own tests can afford. */
final case class Size(
    hubVertices: Int, hubEdges: Int, hubs: Int, cliques: Int, cliqueSize: Int, chainLength: Int,
    swingEvents: Int, swingUsers: Int, swingItems: Int, swingCap: Int,
    mlTrainRows: Int, mlScoreRows: Int, docGroups: Int)

object Size {
  val full = Size(
    hubVertices = 1000, hubEdges = 4000, hubs = 10, cliques = 20, cliqueSize = 5, chainLength = 3,
    swingEvents = 4000, swingUsers = 400, swingItems = 300, swingCap = 30,
    mlTrainRows = 10000, mlScoreRows = 50000, docGroups = 300)
  val tiny = Size(
    hubVertices = 200, hubEdges = 800, hubs = 4, cliques = 4, cliqueSize = 5, chainLength = 6,
    swingEvents = 2000, swingUsers = 200, swingItems = 60, swingCap = 12,
    mlTrainRows = 600, mlScoreRows = 1000, docGroups = 20)
}

/**
 * Seeded input generators. Every input is a pure function of
 * (seed, size): the same seed gives the same rows, in the same order.
 * They run on the driver, so the references see exactly the rows the
 * engine later scans from parquet.
 */
object Inputs {

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** A link graph with three parts, each there for one algorithm:
    *  - a hub web (every vertex links to hub 0; further edges have
    *    uniform sources and a share of their destinations drawn from a
    *    few hubs): the PageRank mass concentrates on the hubs;
    *  - disjoint planted cliques: label propagation's closed form is
    *    "every member takes the clique's smallest id";
    *  - one planted chain, ids increasing along it: the longest
    *    diameter, so it sets the min-label round count.
    * Edges are directed (src, dst) pairs; parallel edges may occur. */
  final case class Graph(edges: Array[(Long, Long)], cliques: Array[Array[Long]], chain: Array[Long])

  def graph(seed: Long, s: Size): Graph = {
    val r = rng(seed, 0x67726170L)
    val edges = ArrayBuffer.empty[(Long, Long)]
    val v = s.hubVertices.toLong
    // every vertex of the web links to hub 0, so its diameter (and with
    // it the connected-components round counts) is the same for every
    // seed; the remaining edges are random, a share of them into hubs
    for (u <- 1L until v) edges += ((u, 0L))
    while (edges.size < s.hubEdges) {
      val src = r.nextLong(v)
      val dst = if (r.nextDouble() < 0.3) r.nextLong(s.hubs.toLong) else r.nextLong(v)
      if (src != dst) edges += ((src, dst))
    }
    val cliques = Array.tabulate(s.cliques) { c =>
      Array.tabulate(s.cliqueSize)(k => v + c.toLong * s.cliqueSize + k)
    }
    for (cl <- cliques; i <- cl.indices; j <- i + 1 until cl.length) edges += ((cl(i), cl(j)))
    val chainBase = v + s.cliques.toLong * s.cliqueSize
    val chain = Array.tabulate(s.chainLength)(i => chainBase + i)
    for (i <- 0 until chain.length - 1) edges += ((chain(i), chain(i + 1)))
    Graph(edges.toArray, cliques, chain)
  }

  /** (user, item) behaviours with log-uniform item popularity, so
    * count(item x) ∝ 1/(x+1): the head items exceed Swing's purchaser
    * cap while the tail stays sparse. Users are uniform. */
  def behaviors(seed: Long, s: Size): Array[(Long, Long)] = {
    val r = rng(seed, 0x7377696eL)
    val logN = math.log(s.swingItems.toDouble)
    Array.fill(s.swingEvents) {
      val user = r.nextLong(s.swingUsers.toLong)
      val item = math.min(s.swingItems - 1L, math.max(0L, math.exp(r.nextDouble() * logN).toLong - 1L))
      (user, item)
    }
  }

  /** A labelled row: two categorical columns and four numeric ones on
    * very different scales, so every pipeline stage matters. */
  final case class MlRow(id: Long, cat1: String, cat2: String,
      x1: Double, x2: Double, x3: Double, x4: Double, label: Double)

  private val Cat1 = Array("amber", "beryl", "coral", "denim", "ebony", "fawn", "gold", "hazel")
  private val Cat2 = Array("north", "south", "east", "west", "centre")

  def mlRows(seed: Long, n: Int, salt: Long): Array[MlRow] = {
    val r = rng(seed, salt)
    Array.tabulate(n) { i =>
      // skewed categorical draws: low levels are more frequent
      val c1 = math.min(Cat1.length - 1, (r.nextDouble() * r.nextDouble() * Cat1.length).toInt)
      val c2 = r.nextInt(Cat2.length)
      val x1 = gaussian(r)
      val x2 = 10.0 * gaussian(r)
      val x3 = 0.1 * gaussian(r)
      val x4 = 50.0 + 100.0 * r.nextDouble()
      val z = 1.2 * x1 - 0.15 * x2 + 8.0 * x3 + 0.02 * (x4 - 100.0) +
        (if (c1 < 3) 1.0 else -0.5) + 0.3 * c2 - 0.6 + 0.5 * gaussian(r)
      val label = if (r.nextDouble() < 1.0 / (1.0 + math.exp(-z))) 1.0 else 0.0
      MlRow(i.toLong, Cat1(c1), Cat2(c2), x1, x2, x3, x4, label)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller from two uniforms (SplittableRandom has no gaussian)
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  /** A documentsLike corpus: ids in groups of five. Members 0–2 are
    * unique 50-token documents; member 3 is member 0 with its case and
    * spacing changed (an exact duplicate after normalisation); member 4
    * is member 0 with every 10th token replaced (a near duplicate, word
    * 3-gram Jaccard ≈ 0.57). `planted` holds the ids of members 3 and 4. */
  final case class Corpus(docs: Array[(Long, String, String)], planted: Set[Long])

  private val TokensPerDoc = 50
  private val Vocabulary = 5000

  private def word(seed: Long, slot: Int): String = {
    val r = rng(seed, 0x776f7264L + slot)
    val len = 3 + r.nextInt(6)
    val sb = new StringBuilder
    for (_ <- 0 until len) sb.append(('a' + r.nextInt(26)).toChar)
    sb.append(slot) // distinct slots never collide
    sb.toString
  }

  def corpus(seed: Long, s: Size): Corpus = {
    val vocab = Array.tabulate(Vocabulary)(word(seed, _))
    val docs = ArrayBuffer.empty[(Long, String, String)]
    val planted = Set.newBuilder[Long]
    for (g <- 0 until s.docGroups) {
      def tokens(id: Long): Array[String] = {
        val r = rng(seed, 0x646f63L ^ (id << 8))
        Array.fill(TokensPerDoc)(vocab(r.nextInt(Vocabulary)))
      }
      val base = g * 5L
      val t0 = tokens(base)
      for (m <- 0 until 5) {
        val id = base + m
        val text = m match {
          case 3 => t0.map(_.toUpperCase).mkString("  ", "   ", " ")
          case 4 =>
            val r = rng(seed, 0x6e656172L ^ (id << 8))
            t0.indices.map(i => if (i % 10 == 0) vocab(r.nextInt(Vocabulary)) else t0(i)).mkString(" ")
          case 0 => t0.mkString(" ")
          case _ => tokens(id).mkString(" ")
        }
        if (m >= 3) planted += id
        docs += ((id, text, s"src_${g % 5}"))
      }
    }
    Corpus(docs.toArray, planted.result())
  }
}
