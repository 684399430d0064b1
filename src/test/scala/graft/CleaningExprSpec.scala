package graft

import graft.operators.Cleaning
import graft.operators.Cleaning.{BlockTagSplit, WsClass, decodeEntitiesChain, stripScriptStyleComment}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r16 native one-pass cleaners to the original Column-chain
  * formulations they replaced (VERDICT r15 next-round #2/#3 — the
  * MinHashSig graduation pattern: the production plan gets the native
  * Expression, the spec and the SQL oracle keep the replayable
  * chain):
  *
  *  - [[graft.functions.EntityDecode.decode]] vs the 196-step
  *    sequential replace chain ([[Cleaning.decodeEntitiesChain]]),
  *    including the boundary-forge cases where a decode output
  *    completes a LATER chain pattern (must decode) or an EARLIER one
  *    (must stay literal) — the cases the fast scan alone would get
  *    wrong and the verify-scan fallback exists for;
  *  - [[graft.functions.MainContentBlocksExpr]] vs the HOF/regex
  *    block scorer ([[extractMainContentHof]] below).
  *
  * Both run fixture batteries AND seeded fuzz corpora through ONE
  * DataFrame so the native path executes under whole-stage codegen
  * (fallback disabled in the test session — a codegen break fails
  * here, not silently in production).
  */
class CleaningExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The original HOF/regex formulation of [[Cleaning.extractMainContent]]
    * (block split + per-block regex scoring — 5 regex scans per
    * block): the reference the native
    * [[graft.functions.MainContentBlocksExpr]] is pinned against, and
    * the shape the SQL oracle replays. */
  private def extractMainContentHof(html: Column, minTextChars: Int): Column = {
    // at extractMainContent's default link cap, maxLinkPct = 33
    val blocks = split(stripScriptStyleComment(html), BlockTagSplit)
    def cleanOf(b: Column): Column =
      trim(regexp_replace(regexp_replace(b, "(?s)<[^>]*>", " "), WsClass, " "))
    val scored = transform(blocks, b => {
      val clean = cleanOf(b)
      val noAnchor = cleanOf(regexp_replace(b, "(?is)<a\\b[^>]*>.*?</a>", " "))
      struct(clean.as("t"), (length(clean) - length(noAnchor)).as("lc"))
    })
    val kept = filter(scored, s =>
      length(s("t")) >= minTextChars && s("lc") * 100 <= length(s("t")) * 33)
    val joined = array_join(transform(kept, s => s("t")), " ")
    struct(
      trim(regexp_replace(decodeEntitiesChain(joined), WsClass, " ")).as("main_text"),
      size(blocks).as("n_blocks"), size(kept).as("n_kept"))
  }

  private def assertDecodeParity(inputs: Seq[String], clue: String): Unit = {
    val rows = inputs.toDF("s")
      .select(col("s"), Cleaning.decodeEntities(col("s")).as("fast"),
        Cleaning.decodeEntitiesChain(col("s")).as("chain"))
      .as[(String, String, String)].collect()
    rows.foreach { case (in, fast, chain) =>
      assert(fast == chain, s"$clue: decode divergence on ${render(in)}: " +
        s"fast=${render(fast)} chain=${render(chain)}")
    }
  }

  private def render(s: String): String =
    if (s == null) "<null>" else "\"" + s.flatMap {
      case c if c >= ' ' && c < 127 => c.toString
      case c => f"\\u${c.toInt}%04x"
    } + "\""

  test("entity decode: fixture battery matches the sequential chain") {
    assertDecodeParity(Seq(
      "", "plain text, no entities", "a & b &; &# &#; &#x &#x; & #38;",
      "&lt;tag&gt; &quot;q&quot; &#39;apos&#39; a&nbsp;b",
      "&#72;ello &#x77;orld &#33; &#126; &#x20; &#x7e;",
      // &-producers decode LAST: the decoded & never re-parses
      "&amp;lt; &#38;#60; &#x26;amp; &amp;amp;",
      // non-canonical / out-of-range forms pass through
      "&#039; &#0072; &#9999; &#31; &#127; &#x1f; &#x7F; &#X48; &#x7E;",
      "&#1234; &#12345; &#x123; &#xg1; &#-38;",
      // truncated refs at end of string
      "tail &", "tail &#", "tail &#7", "tail &#72", "tail &#x7",
      "tail &#x77", "tail &lt", "tail &amp",
      // FORWARD forge: &#57; -> 9 completes &#49; whose chain step is
      // LATER (49 < 57, descending chain) -> the chain decodes it to 1
      "&#4&#57;;",
      // BACKWARD forge: &#51; -> 3 completes &#53; whose step has
      // PASSED -> stays literal
      "&#5&#51;;",
      // the scaladoc forge example: &&#35;60; -> &#60; stays literal
      "&&#35;60;",
      // forged base entity via NCR output: &#116; -> t completes &lt;
      // AFTER the base step has passed -> stays literal
      "&l&#116;;",
      // forged named-to-NCR: &#108; -> l ; base &lt; already passed
      "&&#108;t;",
      // amp-output forging: &amp; -> & before lt; -- amp is LAST, so
      // the forged &lt; stays literal in both engines
      "&amp;&amp;lt;",
      // multibyte neighbours: the scanner must not split UTF-8
      "café &#72; 中文&nbsp;字 «&#x77;» —&amp;—",
      // adjacent and overlapping-looking refs
      "&#72;&#72;&#72;", "&#7&#72;2;", "&&&&", "&lt;&lt;&gt;&gt;",
      "&#39;&#39;", "&quot;&#34;&quot;", "&#38;&#38;",
      // whitespace forms survive decode (collapse happens outside)
      "ab &#9; &#10; c\t\nd"), "fixtures")
  }

  test("entity decode: seeded fuzz corpus matches the sequential chain") {
    val frags = Array(
      "&", "#", ";", "x", "3", "9", "7", "0", "12", "26", "38", "39",
      "60", "108", "116", "126", "lt;", "gt;", "amp;", "quot;", "nbsp;",
      "&lt;", "&gt;", "&amp;", "&#", "&#3", "&#38;", "&#x", "&#x2",
      "&#x26;", "&#39;", "&#116;", "a", "Zz", " ", "\t", "é", "中",
      "text ", "<b>", "</b>")
    val rnd = new scala.util.Random(20160816L)
    val corpus = (0 until 600).map { _ =>
      val k = rnd.nextInt(24)
      (0 until k).map(_ => frags(rnd.nextInt(frags.length))).mkString
    }
    assertDecodeParity(corpus, "fuzz")
  }

  private def assertMainParity(pages: Seq[String], minChars: Int,
                               clue: String): Unit = {
    val rows = pages.toDF("h")
      .select(col("h"),
        Cleaning.extractMainContent(col("h"), minTextChars = minChars).as("f"),
        extractMainContentHof(col("h"), minTextChars = minChars).as("c"))
      .select(col("h"), col("f.main_text"), col("f.n_blocks"), col("f.n_kept"),
        col("c.main_text"), col("c.n_blocks"), col("c.n_kept"))
      .as[(String, String, Int, Int, String, Int, Int)].collect()
    rows.foreach { case (in, ft, fb, fk, ct, cb, ck) =>
      assert((ft, fb, fk) == (ct, cb, ck),
        s"$clue: main-content divergence on ${render(in)}: " +
          s"native=(${render(ft)},$fb,$fk) hof=(${render(ct)},$cb,$ck)")
    }
  }

  test("main content: fixture battery matches the HOF/regex scorer") {
    val body = "This block carries enough characters to clear the default " +
      "threshold comfortably and mentions <a href=\"/x\">one link</a> only."
    val farm = "<a href=\"/a\">first related</a> <a href=\"/b\">second related</a>"
    assertMainParity(Seq(
      "", "no markup at all, one long enough block of plain prose here",
      s"<html><body><p>$body</p><div class=\"r\">Related: $farm</div></body></html>",
      // empty segments: leading tag, adjacent tags, trailing tag
      "<p>lead</p><p></p><div></div>trailing<br>",
      // uppercase + attribute-bearing block tags, self-closing br
      s"<DIV CLASS='x'>$body</DIV><BR/><P>$body</P>",
      // NOT block tags: <p2>, <parag>, <h7>, <tablex> stay inline
      s"<p2>$body</p2> <parag>x</parag> <h7>y</h7> <tablex>z</tablex>",
      // prefix-shadowed names: pre vs p, thead/tbody vs th/td/tr
      s"<pre>$body</pre><thead>x</thead><th>y</th><tbody>z</tbody>",
      // unterminated tags stay literal; unterminated block tag never splits
      s"<p>$body<div class=broken", "text with a lone < angle and > another",
      // anchors: unclosed open, nested, uppercase close, across inline tags
      s"<p>$body <a href='/u'>unclosed anchor text",
      s"<p>$body <a href='/n'>outer <a>inner</a> tail</a> rest</p>",
      s"<p>$body <A HREF='/c'>CAPS</A></p>",
      s"<p>$body <a\nhref='/m'>multi\nline</a></p>",
      // <ab> is not an anchor (\b), <a/> and <a > are
      s"<p>$body <ab>notanchor</ab> <a/>x</a> <a >y</a></p>",
      // anchor whose removal completes a surrounding tag span
      s"<p>$body</p><b <a href='/w'>swallow</a> >tail more text here",
      // entity-bearing blocks: decode happens after classification
      s"<p>$body &#72;ello &amp; &#x77;orld &#38;#60;</p>",
      // whitespace-only and short blocks die on length
      "<p>   \t\n  </p><p>short</p><li>Home</li>",
      // multibyte content chars count as ONE char each
      ("<p>中" * 40) + "</p>"), 30, "fixtures")
  }

  test("main content: seeded fuzz corpus matches the HOF/regex scorer") {
    val frags = Array(
      "<p>", "</p>", "<div>", "</div>", "<DIV a='1'>", "<li>", "<br>",
      "<br/>", "<pre>", "<thead>", "<th>", "<p2>", "<a href='/x'>",
      "<a>", "</a>", "</A>", "<A>", "<ab>", "<a", "<b>", "</b>", "<",
      ">", "<!doctype>", "word ", "longer words in a run ", "&#72;",
      "&amp;", "&lt;", " ", "\n", "\t", "é中 ", "x<y", "a>b")
    val rnd = new scala.util.Random(816L)
    val corpus = (0 until 400).map { _ =>
      val k = rnd.nextInt(30)
      (0 until k).map(_ => frags(rnd.nextInt(frags.length))).mkString
    }
    // small threshold so keep/drop boundaries fire often
    assertMainParity(corpus, 8, "fuzz-min8")
    assertMainParity(corpus.take(150), 30, "fuzz-min30")
  }

  test("null input: both implementations agree after flattening") {
    val rows = Seq[String](null, "<p>only one real page block of text</p>")
      .toDF("h")
      .select(
        Cleaning.extractMainContent(col("h"), minTextChars = 8).getField("main_text").as("f"),
        extractMainContentHof(col("h"), minTextChars = 8).getField("main_text").as("c"),
        Cleaning.decodeEntities(col("h")).as("fd"),
        Cleaning.decodeEntitiesChain(col("h")).as("cd"))
      .as[(Option[String], Option[String], Option[String], Option[String])]
      .collect()
    rows.foreach { case (f, c, fd, cd) =>
      assert(f == c && fd == cd, s"null-handling divergence: $f/$c $fd/$cd")
    }
  }
}
