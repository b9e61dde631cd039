package perfbench

import scala.util.Random

/** Seeded inputs. Every text, metadata map, query and op choice the
  * benchmark sends is drawn here from the run's `--seed`, so one seed
  * always gives the same inputs and the engine sees only their values.
  *
  * Texts use the vocabulary of the sf0.1 `documents.parquet` fixture:
  * 30 near-uniform tokens, a rare `dup` marker, and 10 to 99 tokens per
  * text. Metadata follows the same fixture's shape: `lang` (en 41%,
  * zh/es/fr/de the rest), `source` (20 sources), plus a `bucket` key. */
object Corpus {
  val vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")

  private val langs = Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  /** The filter 25% of searches carry. */
  val enFilter: Map[String, String] = Map("lang" -> "en")

  /** One stream per (seed, purpose, index), independent of thread timing. */
  def rng(seed: Long, purpose: String, index: Int = 0): Random =
    new Random(seed * 1000003L + purpose.hashCode * 31L + index)

  def text(r: Random): String = {
    val n = 10 + r.nextInt(90)
    Iterator.fill(n)(if (r.nextInt(360) == 0) "dup" else vocab(r.nextInt(vocab.size)))
      .mkString(" ")
  }

  def metadata(r: Random): Map[String, String] = {
    val u = r.nextDouble()
    val lang = langs.iterator.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
      .drop(1).find(_._2 > u).map(_._1).getOrElse("de")
    Map("lang" -> lang, "source" -> s"src${r.nextInt(20)}", "bucket" -> r.nextInt(16).toString)
  }

  /** `n` chunk payloads (text, metadata). */
  def chunks(seed: Long, purpose: String, n: Int): Vector[(String, Map[String, String])] = {
    val r = rng(seed, purpose)
    Vector.fill(n)((text(r), metadata(r)))
  }

  /** Endless draws from `items`, each pass a fresh seeded shuffle, so
    * every run of `items.size` draws holds each item exactly once: the
    * mix a run sees does not drift with the seed. */
  def deck[A](r: Random, items: Seq[A]): Iterator[A] =
    Iterator.continually(r.shuffle(items)).flatten

  /** A search: 3 to 8 vocabulary tokens. */
  final case class Query(text: String, filters: Map[String, String])

  def query(r: Random, filtered: Boolean = false): Query = {
    val n = 3 + r.nextInt(6)
    Query(Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" "),
      if (filtered) enFilter else Map.empty)
  }

  /** Seeded searches of which exactly one in four carries `{"lang":"en"}`. */
  def queries(r: Random): Iterator[Query] =
    deck(r, Seq(true, false, false, false)).map(query(r, _))
}
