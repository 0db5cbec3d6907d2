package graft.core

/** Text block with density features, built from the token stream with a
  * tag-path stack (SURVEY.md par 7.2 items 2-3; north_star: "text-density +
  * link-density block classification with a tag-path stack").
  *
  * @param text      canonical (NFC + collapsed) block text
  * @param tagPath   '/'-joined lowercase open-element path at block start
  * @param words     whitespace-token count of `text`
  * @param linkWords words that occurred inside an <a> element
  * @param inBoiler  block sits under a structural-boilerplate element
  *                  (nav/header/footer/aside/form/figure/button/select)
  * @param inContent block sits under an explicit content element
  *                  (article/main)
  */
final case class Block(
    text: String,
    tagPath: String,
    words: Int,
    linkWords: Int,
    inBoiler: Boolean,
    inContent: Boolean,
) {
  def linkDensity: Double = if (words == 0) 0.0 else linkWords.toDouble / words
}

object BlockBuilder {
  import Html.Role

  /** Tokenize `html` with [[Html.parse]] and cut it into blocks. A block
    * ends at every start or end tag with the [[Html.Role.Block]] role; its
    * text is the canonical form ([[Canonicalizer.blockOf]]) of the text
    * runs it gathered, one space between runs. Nothing is allocated per
    * token: text runs land in one buffer via bulk entity-aware appends,
    * and the tag path is a checkpointed StringBuilder.
    */
  def buildStreaming(html: String, deadline: Html.Deadline): Vector[Block] = {
    val sink = new StreamSink
    Html.parse(html, sink, deadline)
    sink.finish()
  }

  /** The block builder as an [[Html.Sink]]. Each tag costs one bit test
    * per role question (block boundary, void, boilerplate, content,
    * anchor) on the bits [[Html.parse]] resolved with the name. The open
    * elements are arrays indexed by depth (name, role bits, tag-path
    * length before the push); an end tag pops to the nearest open element
    * of its name, tolerating unclosed intermediates, comparing names with
    * `eq` first (known names are interned) and `equals` after.
    */
  private final class StreamSink extends Html.Sink {
    private val out = Vector.newBuilder[Block]
    private var names = new Array[String](32)
    private var roles = new Array[Int](32)
    private var pathLens = new Array[Int](32)
    private var depth = 0
    private val pathSb = new java.lang.StringBuilder
    private var anchorDepth = 0
    private var boilerDepth = 0
    private var contentDepth = 0
    private val buf = new java.lang.StringBuilder
    private val scratch = new Canonicalizer.Scratch
    private var blockPath = ""
    private var pendingLinkWords = 0
    private var blockBoiler = false
    private var blockContent = false

    private def flush(): Unit = {
      if (buf.length == 0) { pendingLinkWords = 0; return }
      val canon = Canonicalizer.blockOf(buf, scratch)
      buf.setLength(0)
      val lw = pendingLinkWords
      pendingLinkWords = 0
      if (canon.nonEmpty) {
        out += Block(
          text = canon,
          tagPath = blockPath,
          words = scratch.words,
          linkWords = lw,
          inBoiler = blockBoiler,
          inContent = blockContent,
        )
      }
    }

    def startTag(name: String, selfClosing: Boolean): Unit = startTag(name, Html.rolesOf(name), selfClosing)
    def endTag(name: String): Unit = endTag(name, Html.rolesOf(name))

    override def startTag(name: String, r: Int, selfClosing: Boolean): Unit = {
      if ((r & Role.Block) != 0) flush()
      if ((r & Role.Void) == 0 && !selfClosing) {
        if (depth == names.length) {
          names = java.util.Arrays.copyOf(names, 2 * depth)
          roles = java.util.Arrays.copyOf(roles, 2 * depth)
          pathLens = java.util.Arrays.copyOf(pathLens, 2 * depth)
        }
        names(depth) = name
        roles(depth) = r
        pathLens(depth) = pathSb.length
        depth += 1
        if (pathSb.length > 0) pathSb.append('/')
        pathSb.append(name)
        if ((r & Role.Anchor) != 0) anchorDepth += 1
        if ((r & Role.Boiler) != 0) boilerDepth += 1
        if ((r & Role.Content) != 0) contentDepth += 1
      }
    }

    override def endTag(name: String, r: Int): Unit = {
      if ((r & Role.Block) != 0) flush()
      var idx = depth - 1
      while (idx >= 0 && !(names(idx) eq name) && !names(idx).equals(name)) idx -= 1
      if (idx >= 0) {
        while (depth > idx) {
          depth -= 1
          val t = roles(depth)
          if ((t & Role.Anchor) != 0) anchorDepth -= 1
          if ((t & Role.Boiler) != 0) boilerDepth -= 1
          if ((t & Role.Content) != 0) contentDepth -= 1
        }
        pathSb.setLength(pathLens(idx))
      }
    }

    def text(s: String, from: Int, to: Int): Unit = {
      val b0 = buf.length
      Html.appendDecoded(buf, s, from, to)
      val b1 = buf.length
      if (b1 == b0) return // run decoded to nothing (e.g. only &shy;)
      if (b0 == 0) {
        if (!blockPath.contentEquals(pathSb)) blockPath = pathSb.toString // sibling blocks share it
        blockBoiler = boilerDepth > 0
        blockContent = contentDepth > 0
      } else {
        // a block spanning into/out of boiler scope stays conservative
        blockBoiler = blockBoiler || boilerDepth > 0
      }
      if (anchorDepth > 0) pendingLinkWords += countWordsIn(buf, b0, b1)
      buf.append(' ') // token boundary between text runs; collapsed later
    }

    def finish(): Vector[Block] = { flush(); out.result() }
  }

  /** Words in sb[from,to): maximal runs outside the whitespace set the
    * Canonicalizer collapses, so the count matches the canonical text's
    * (NFC never alters whitespace-ness).
    */
  private def countWordsIn(sb: java.lang.StringBuilder, from: Int, to: Int): Int = {
    var c = 0; var in = false; var i = from
    while (i < to) {
      if (Canonicalizer.isSpace(sb.charAt(i))) in = false
      else if (!in) { c += 1; in = true }
      i += 1
    }
    c
  }
}

/** Boilerpipe/Readability-class density rules with a Trafilatura-style
  * precision-to-recall fallback ladder (north_star). Deterministic: fixed
  * thresholds, no randomness, order-stable.
  */
object BoilerplateClassifier {

  /** DEFAULT thresholds are part of the golden contract (SURVEY.md par 7.5
    * item 2): changing any default is a golden-regeneration event. The
    * primary/smoothing thresholds are overridable per run via
    * [[HtmlParams]] (validated at plan build).
    */
  val maxLinkDensity = 0.33
  val minWordsDense = 10
  val neighborMinWords = 4
  val fallbackMaxLinkDensity = 0.55
  val fallbackMinWords = 3

  /** Pass 1 precision rules; pass 2 Boilerpipe-style neighbor smoothing;
    * fallback ladder if nothing classified as content.
    */
  def classify(blocks: Vector[Block], params: HtmlParams = HtmlParams()): Vector[Block] = {
    if (blocks.isEmpty) return Vector.empty
    val maxLd = params.maxLinkDensity
    val minWd = params.minWordsDense

    val primary: Array[Boolean] = blocks.map { b =>
      !b.inBoiler && (
        (b.inContent && b.words >= 1 && b.linkDensity < 0.66) ||
          (b.words >= minWd && b.linkDensity <= maxLd)
      )
    }.toArray

    // neighbor smoothing: a shortish low-link block between content blocks
    // is content (Boilerpipe NumberWordsRulesClassifier-style context rule)
    val smoothed = primary.clone()
    var i = 0
    while (i < blocks.length) {
      if (!smoothed(i)) {
        val b = blocks(i)
        val prevC = i > 0 && primary(i - 1)
        val nextC = i + 1 < blocks.length && primary(i + 1)
        if (!b.inBoiler && b.words >= neighborMinWords && b.linkDensity <= maxLd && (prevC || nextC))
          smoothed(i) = true
      }
      i += 1
    }

    val kept = blocks.indices.collect { case j if smoothed(j) => blocks(j) }.toVector
    if (kept.nonEmpty) return kept

    // fallback rung 1: relax density + length (recall over precision)
    val rung1 = blocks.filter(b => !b.inBoiler && b.words >= fallbackMinWords && b.linkDensity < fallbackMaxLinkDensity)
    if (rung1.nonEmpty) return rung1

    // fallback rung 2: anything textual outside structural boilerplate
    val rung2 = blocks.filter(b => !b.inBoiler && b.words >= 1 && b.linkDensity < 1.0)
    if (rung2.nonEmpty) return rung2

    Vector.empty // content-free page: status stays ok with empty text
  }
}
