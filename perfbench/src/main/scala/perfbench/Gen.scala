package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.util.Random

/** One page of a generated dump, as the generator meant it: `text` is the
  * wikitext before XML escaping, `target` the redirect target when the page
  * is a redirect. The correctness model reads these fields only; it never
  * parses the dump. */
final case class Page(aid: Long, ns: Int, title: String, text: String,
                      target: Option[String])

/** One expected `articles` row. */
final case class Article(id: Long, aid: Long, title: String, body: Long)

/** The expected output of the pipeline, computed in this JVM from the
  * generator's pages with the reference's dictionary walk:
  *   - `ttl2bid`: content title → body id; a duplicated title keeps the
  *     smallest body id,
  *   - `redirects`: redirect title → target; a duplicated title keeps the
  *     smallest target, and a self-loop is no edge,
  *   - each redirect page starts at its own target and follows
  *     `redirects` for at most `MaxHops` lookups; a page that reaches no
  *     content title (cycle, dead end, budget) has no article. */
final case class Model(nBodies: Long, articles: Vector[Article],
                       hopsHistogram: Map[Int, Int], dropped: Int)

object Model {
  val MaxHops = 20

  def of(pages: Seq[Page]): Model = {
    val main = pages.filter(_.ns == 0)
    val content = main.filter(_.target.isEmpty).sortBy(_.aid)
    val bid = content.zipWithIndex.map { case (p, i) => p.aid -> (i + 1L) }.toMap
    val ttl2bid = mutable.Map.empty[String, Long]
    content.foreach { p =>
      val b = bid(p.aid)
      ttl2bid(p.title) = ttl2bid.get(p.title).fold(b)(math.min(_, b))
    }
    val redirects = mutable.Map.empty[String, String]
    main.foreach { p =>
      p.target.filter(_ != p.title).foreach { t =>
        redirects(p.title) = redirects.get(p.title).fold(t)(o => if (t < o) t else o)
      }
    }
    val hist = mutable.Map.empty[Int, Int].withDefaultValue(0)
    var dropped = 0
    val resolved = main.flatMap { p =>
      p.target.flatMap { first =>
        var cur = first
        var hop = 1
        var hit: Option[Long] = None
        var alive = true
        while (alive && hit.isEmpty && hop <= MaxHops) {
          ttl2bid.get(cur) match {
            case Some(b) => hit = Some(b)
            case None => redirects.get(cur) match {
              case Some(next) => cur = next; hop += 1
              case None => alive = false
            }
          }
        }
        hit match {
          case Some(b) => hist(hop) += 1; Some((p.aid, p.title, b))
          case None => dropped += 1; None
        }
      }
    }
    val rows = (content.map(p => (p.aid, p.title, bid(p.aid))) ++ resolved)
      .sortBy(r => (r._1, r._2))
      .zipWithIndex.map { case ((aid, t, b), i) => Article(i + 1L, aid, t, b) }
    Model(content.size.toLong, rows.toVector, hist.toMap, dropped)
  }
}

/** A generated dump plus what describes it in the run's record. */
final case class Dump(path: String, bytes: Long, pages: Vector[Page],
                      counts: Map[String, Long]) {
  def contentTexts: Vector[String] =
    pages.filter(p => p.ns == 0 && p.target.isEmpty).map(_.text)
}

/** Seeded generators for the two dump shapes and the query corpus. The
  * same seed gives byte-identical inputs. */
object Gen {
  private val Words = Vector("river", "stone", "north", "castle", "market",
    "garden", "signal", "harbor", "engine", "valley", "copper", "lantern",
    "meadow", "orbit", "quarry", "summit", "tunnel", "willow", "anchor",
    "bridge", "canyon", "delta", "ember", "forest", "glacier", "island",
    "jungle", "kernel", "lagoon", "mirror", "nectar", "oasis")

  private def word(r: Random): String = Words(r.nextInt(Words.size))
  private def cap(w: String): String = w.capitalize
  private def sentence(r: Random, n: Int): String =
    Iterator.fill(n)(word(r)).mkString(" ")

  /** Titles are unique by construction (the counter), except where a
    * workload duplicates one on purpose. A few carry XML-escaped
    * characters so title unescaping is on the checked path. */
  private def title(r: Random, i: Int): String = {
    val base = s"${cap(word(r))} ${word(r)} $i"
    r.nextInt(50) match {
      case 0 => s"${cap(word(r))} & ${word(r)} $i"
      case 1 => s"${cap(word(r))}'s ${word(r)} $i"
      case _ => base
    }
  }

  /** A long, markup-dense article: nested templates, tables, refs, file
    * links with nested links, comments, math, HTML entities, categories
    * and a language footer — the constructs `WikiText` strips. */
  def markupBody(r: Random, t: String): String = {
    val sb = new StringBuilder
    sb ++= s"'''$t''' is a ${sentence(r, 6)}. "
    sb ++= s"{{Infobox ${word(r)}|name=$t|image=[[File:${cap(word(r))}.jpg|thumb|A [[${cap(word(r))}]] caption]]" +
      s"|data={{nowrap|${word(r)} {{small|${word(r)}}}}}|size=${r.nextInt(9000)}}}\n"
    val paragraphs = 6 + r.nextInt(7)
    (1 to paragraphs).foreach { k =>
      sb ++= s"\n== ${cap(word(r))} ${word(r)} ==\n"
      sb ++= s"${sentence(r, 12)} [[${cap(word(r))} ${word(r)}|${word(r)}]] and [[${cap(word(r))}]] " +
        s"''${word(r)}'' '''${word(r)}''' &nbsp;${word(r)} &amp; ${word(r)} &lt;${word(r)}&gt; " +
        s"&#${0x41 + r.nextInt(26)}; &eacute;${word(r)}"
      sb ++= s"<ref name=\"r$k\">{{cite web|url=http://example.org/${r.nextInt(1 << 20)}|title=${word(r)}}}</ref>. "
      sb ++= s"${sentence(r, 10)}<ref>${sentence(r, 3)}</ref>.\n"
      r.nextInt(4) match {
        case 0 =>
          sb ++= s"{| class=\"wikitable\"\n|-\n! ${word(r)} !! ${word(r)}\n|-\n| ${word(r)} || ${r.nextInt(1000)}\n" +
            s"|-\n| {{flag|${word(r)}}} || ${r.nextInt(1000)}\n|}\n"
        case 1 =>
          sb ++= s"<!-- editor note: ${sentence(r, 5)} -->\n<math>x^{$k} + \\frac{${word(r)}}{2}</math> ${sentence(r, 8)}.\n"
        case 2 =>
          sb ++= s"[[File:${cap(word(r))}_$k.png|right|200px|The [[${cap(word(r))}]] of [[${cap(word(r))} ${word(r)}|${word(r)}]]]] " +
            s"${sentence(r, 8)} [http://example.org/$k ${word(r)} ${word(r)}].\n"
        case _ =>
          sb ++= s"* ${sentence(r, 5)}\n* {{convert|${r.nextInt(500)}|km|mi}} ${sentence(r, 4)}\n"
      }
    }
    sb ++= s"\n[[Category:${cap(word(r))} ${word(r)}]]\n[[Category:${cap(word(r))}]]"
    sb ++= s"\n[[de:$t]]\n[[fr:$t]]\n[[ja:$t]]"
    sb.toString
  }

  private def stubBody(r: Random, t: String): String =
    s"'''$t''' is a ${sentence(r, 4)}.\n[[Category:${cap(word(r))}]]"

  private def redirectText(r: Random, target: String): String =
    if (r.nextInt(4) == 0) s"#REDIRECT [[$target]]\n{{R from alternative name}}"
    else s"#REDIRECT [[$target]]"

  private final case class Spec(ns: Int, title: String, text: String, target: Option[String])

  /** About 95% long markup-dense content pages and ~5% single-hop
    * redirects to content, plus 2% talk pages (ns 1) that must not load. */
  def markupDump(seed: Long, nPages: Int): Vector[Page] = {
    val r = new Random(seed)
    val nRedirects = nPages * 5 / 100
    val nTalk = nPages * 2 / 100
    val nContent = nPages - nRedirects - nTalk
    val content = (0 until nContent).map { i =>
      val t = title(r, i)
      Spec(0, t, markupBody(r, t), None)
    }
    val redirects = (0 until nRedirects).map { i =>
      val to = content(r.nextInt(nContent)).title
      Spec(0, s"${cap(word(r))} redirect $i", redirectText(r, to), Some(to))
    }
    val talk = (0 until nTalk).map { i =>
      val t = content(r.nextInt(nContent)).title
      Spec(1, t, markupBody(r, t), None)
    }
    number(r, content ++ redirects ++ talk)
  }

  /** About 70% redirects with chain lengths 1..16, multi-title cycles
    * with tails, self-loops, dead ends, duplicate content titles, and
    * pages outside namespace 0; content pages are short stubs.
    *
    * `dupRedirectTitles` also gives a few redirect pages the title of an
    * earlier redirect (about 2% of the redirect draws). A real export has
    * one page per title and namespace, and `WikiEtl.run` joins resolved
    * redirects back to the redirect pages on the title, so two redirect
    * pages titled X come out as four article rows and fail the model:
    * the measured workload leaves them out, the smoke test turns them on. */
  def redirectDump(seed: Long, nPages: Int, dupRedirectTitles: Boolean = false): Vector[Page] = {
    val r = new Random(seed)
    val nOther = nPages * 3 / 100
    val nRedirects = (nPages - nOther) * 70 / 100
    val nContent = nPages - nOther - nRedirects
    var counter = 0
    def fresh(): String = { counter += 1; title(r, counter) }
    val content = mutable.ArrayBuffer.empty[Spec]
    (0 until nContent).foreach { _ =>
      // one content title in 40 is a duplicate of an earlier one
      val t = if (content.nonEmpty && r.nextInt(40) == 0) content(r.nextInt(content.size)).title
              else fresh()
      content += Spec(0, t, stubBody(r, t), None)
    }
    val other = (0 until nOther).map { i =>
      // namespace-4 pages: a project page, or a redirect into content;
      // some share a title that a main-namespace redirect points at, so a
      // walk that reached them would be wrong
      val t = s"Project ${word(r)} $i"
      if (i % 2 == 0) Spec(4, t, stubBody(r, t), None)
      else {
        val to = content(r.nextInt(nContent)).title
        Spec(4, t, redirectText(r, to), Some(to))
      }
    }
    val rdr = mutable.ArrayBuffer.empty[Spec]
    def add(t: String, to: String): Unit = rdr += Spec(0, t, redirectText(r, to), Some(to))
    while (rdr.size < nRedirects) {
      val room = nRedirects - rdr.size
      val kind = r.nextInt(if (dupRedirectTitles) 100 else 98)
      if (kind < 80) { // chain of length L ending at content
        val len = math.min(room, 1 + math.min(15, (-math.log(1 - r.nextDouble()) * 3).toInt))
        var to = content(r.nextInt(nContent)).title
        (1 to len).foreach { _ => val t = fresh(); add(t, to); to = t }
      } else if (kind < 88 && room >= 2) { // cycle of 2..5 titles plus up to 2 tails
        val k = math.min(room, 2 + r.nextInt(4))
        val ts = Vector.fill(k)(fresh())
        ts.indices.foreach(i => add(ts(i), ts((i + 1) % k)))
        (0 until math.min(nRedirects - rdr.size, r.nextInt(3))).foreach(_ => add(fresh(), ts(r.nextInt(k))))
      } else if (kind < 91) { // self-loop
        val t = fresh(); add(t, t)
      } else if (kind < 96) { // dead end: a missing title, or one only in ns 4
        val to = if (r.nextBoolean()) s"Missing ${word(r)} ${r.nextInt(1 << 20)}"
                 else other(r.nextInt(other.size)).title
        add(fresh(), to)
      } else if (kind < 98 || rdr.isEmpty) { // chain that ends in a dead end
        var to = s"Missing ${word(r)} ${r.nextInt(1 << 20)}"
        (1 to math.min(room, 2 + r.nextInt(2))).foreach { _ => val t = fresh(); add(t, to); to = t }
      } else { // a second redirect page with an earlier redirect's title
        add(rdr(r.nextInt(rdr.size)).title, content(r.nextInt(nContent)).title)
      }
    }
    number(r, content.toVector ++ rdr ++ other)
  }

  /** Shuffle the pages into dump order and give them ascending page ids
    * with random gaps, as a real export has. */
  private def number(r: Random, specs: Seq[Spec]): Vector[Page] = {
    var aid = 10L
    r.shuffle(specs.toVector).map { s =>
      aid += 1 + r.nextInt(5)
      Page(aid, s.ns, s.title, s.text, s.target)
    }
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** Write the pages as a MediaWiki `pages-articles` export. */
  def writeDump(pages: Vector[Page], path: String): Dump = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write("<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.10/\" xml:lang=\"en\">\n")
      out.write("  <siteinfo><sitename>Wikipedia</sitename></siteinfo>\n")
      pages.foreach { p =>
        out.write(s"  <page>\n    <title>${xmlEscape(p.title)}</title>\n    <ns>${p.ns}</ns>\n    <id>${p.aid}</id>\n")
        if (p.target.isDefined) out.write(s"    <redirect title=\"${xmlEscape(p.target.get)}\" />\n")
        out.write(s"    <revision>\n      <id>${p.aid * 7 + 3}</id>\n      <text bytes=\"${p.text.length}\" xml:space=\"preserve\">")
        out.write(xmlEscape(p.text))
        out.write("</text>\n    </revision>\n  </page>\n")
      }
      out.write("</mediawiki>\n")
    } finally out.close()
    val main = pages.filter(_.ns == 0)
    val counts = Map(
      "pages" -> pages.size.toLong,
      "main_pages" -> main.size.toLong,
      "content_pages" -> main.count(_.target.isEmpty).toLong,
      "redirect_pages" -> main.count(_.target.isDefined).toLong,
      "other_ns_pages" -> (pages.size - main.size).toLong,
      "self_loops" -> main.count(p => p.target.contains(p.title)).toLong,
      "duplicate_content_titles" ->
        main.filter(_.target.isEmpty).groupBy(_.title).count(_._2.size > 1).toLong,
      "duplicate_redirect_titles" ->
        main.filter(_.target.isDefined).groupBy(_.title).count(_._2.size > 1).toLong)
    Dump(path, new java.io.File(path).length(), pages, counts)
  }

  /** Number of redirect cycles among main-namespace redirect titles
    * (self-loops excluded), counted as distinct cycles of the title graph. */
  def cycleCount(pages: Seq[Page]): Int = {
    val edges = pages.filter(p => p.ns == 0 && p.target.exists(_ != p.title))
      .groupBy(_.title).map { case (t, ps) => t -> ps.flatMap(_.target).min }
    val state = mutable.Map.empty[String, Int] // 1 on stack, 2 done
    var cycles = 0
    edges.keys.foreach { start =>
      val path = mutable.ArrayBuffer.empty[String]
      var cur = start
      while (cur != null && !state.contains(cur) && edges.contains(cur)) {
        state(cur) = 1; path += cur; cur = edges(cur)
      }
      if (cur != null && state.get(cur).contains(1)) cycles += 1
      path.foreach(state(_) = 2)
    }
    cycles
  }

  // ------------------------------------------------------ query corpus

  /** Row counts of the repo's sf0.1 `documents` and `embeddings` test
    * tables; [[queryCorpus]] reproduces their shape. */
  val Sf01Docs = 5000
  val Sf01Vecs = 2000

  /** The vocabulary of the sf0.1 documents; "dup" appears only as the
    * near-duplicate marker. */
  private val DocWords = Vector("query", "row", "stream", "the", "batch",
    "sort", "value", "hash", "filter", "big", "data", "spark", "line",
    "small", "fast", "group", "customer", "part", "column", "order", "scan",
    "a", "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  /** `documents` (doc_id, text, lang, source, n_chars) and `embeddings`
    * (vec_id, embedding, label), written as parquet under `dir`, in the
    * shape measured (DuckDB) on the sf0.1 test tables:
    *   - a text is 10–99 words, drawn uniformly, of the 30-word vocabulary
    *     (n_chars 44–577, median 295);
    *   - one document in 20 is a near duplicate: another document's text
    *     plus " dup" (that document may itself be a near duplicate);
    *   - lang is en for 41%, de, es, fr or zh for the rest; source is
    *     `src<doc_id % 20>`;
    *   - an embedding is a unit-length 64-dimension vector in a random
    *     direction, its label 0–9 drawn uniformly (the sf0.1 vectors have
    *     no cluster structure). */
  def queryCorpus(spark: org.apache.spark.sql.SparkSession, seed: Long,
                  nDocs: Int, nVecs: Int, dir: String): Unit = {
    import spark.implicits._
    val r = new Random(seed ^ 0x5eedL)
    val base = Vector.fill(nDocs)(
      Vector.fill(10 + r.nextInt(90))(DocWords(r.nextInt(DocWords.size))).mkString(" "))
    val dups = r.shuffle(base.indices.toVector).take(nDocs / 20).toSet
    base.indices.map { i =>
      val t = if (!dups(i)) base(i) else base((i + 1 + r.nextInt(nDocs - 1)) % nDocs) + " dup"
      val lang = if (r.nextInt(100) < 41) "en" else Vector("de", "es", "fr", "zh")(r.nextInt(4))
      (i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until nVecs).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
