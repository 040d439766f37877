package graft.html

/** Arena-style DOM: all nodes live in parallel primitive arrays, no
  * per-node objects. One [[Dom]] instance is reused across rows inside
  * a partition (see [[HtmlParser]]), so steady-state parsing allocates
  * only the text-node strings it emits.
  *
  * Node 0 is the synthetic document root. `kind`: 0 = document,
  * 1 = element, 2 = text.
  *
  * The parser owns each text node's character facts, recorded as it
  * emits the text (Python-space semantics, see [[graft.text.PyText]]):
  * `textCommas` and `textWords` count commas and maximal non-space runs;
  * `textStart`/`textEnd` bound the stripped interior; `textCollapsed`
  * says that interior holds no Python space other than single `' '`
  * between non-space characters. The text length is the string's. The
  * fact arrays are only meaningful at text nodes.
  */
final class Dom {
  var size: Int = 0
  var kind: Array[Byte] = new Array[Byte](256)
  var tag: Array[Int] = new Array[Int](256)
  var parent: Array[Int] = new Array[Int](256)
  var firstChild: Array[Int] = new Array[Int](256)
  var lastChild: Array[Int] = new Array[Int](256)
  var nextSib: Array[Int] = new Array[Int](256)
  var text: Array[String] = new Array[String](256)
  var attrStart: Array[Int] = new Array[Int](256)
  var attrEnd: Array[Int] = new Array[Int](256)
  var textCommas: Array[Int] = new Array[Int](256)
  var textWords: Array[Int] = new Array[Int](256)
  var textStart: Array[Int] = new Array[Int](256)
  var textEnd: Array[Int] = new Array[Int](256)
  var textCollapsed: Array[Boolean] = new Array[Boolean](256)

  var nAttrs: Int = 0
  var attrNames: Array[String] = new Array[String](64)
  var attrValues: Array[String] = new Array[String](64)
  // Lazy attribute values: [start,end) offsets into `src`, materialized
  // (substring + entity decode) only when attr() is actually read. The
  // overwhelming majority of attribute bytes (href/style/src/data-*)
  // are never consumed by any extractor, so parsing skips their
  // allocations entirely.
  var attrValStart: Array[Int] = new Array[Int](64)
  var attrValEnd: Array[Int] = new Array[Int](64)
  /** Source string of the current parse (valid until the next reset). */
  var src: String = null

  def reset(source: String): Unit = {
    // free row strings so a huge page doesn't pin memory into the next row
    java.util.Arrays.fill(text.asInstanceOf[Array[AnyRef]], 0, size, null)
    java.util.Arrays.fill(attrNames.asInstanceOf[Array[AnyRef]], 0, nAttrs, null)
    java.util.Arrays.fill(attrValues.asInstanceOf[Array[AnyRef]], 0, nAttrs, null)
    size = 0
    nAttrs = 0
    src = source
    newNode(0, -1, -1) // document root
  }

  /** Drop the reference to the source string at end-of-row. The lazy
    * attr-value offsets dangle after this, but nothing reads them past
    * the row; without it, each pooled parser would pin the previous
    * page's entire HTML until the next parse — defeating reset's
    * free-row-strings goal for the largest allocation of all.
    */
  def release(): Unit = { src = null }

  private def grow(): Unit = {
    val n = kind.length * 2
    kind = java.util.Arrays.copyOf(kind, n)
    tag = java.util.Arrays.copyOf(tag, n)
    parent = java.util.Arrays.copyOf(parent, n)
    firstChild = java.util.Arrays.copyOf(firstChild, n)
    lastChild = java.util.Arrays.copyOf(lastChild, n)
    nextSib = java.util.Arrays.copyOf(nextSib, n)
    text = java.util.Arrays.copyOf(text, n)
    attrStart = java.util.Arrays.copyOf(attrStart, n)
    attrEnd = java.util.Arrays.copyOf(attrEnd, n)
    textCommas = java.util.Arrays.copyOf(textCommas, n)
    textWords = java.util.Arrays.copyOf(textWords, n)
    textStart = java.util.Arrays.copyOf(textStart, n)
    textEnd = java.util.Arrays.copyOf(textEnd, n)
    textCollapsed = java.util.Arrays.copyOf(textCollapsed, n)
  }

  /** Allocate a node and link it under `par` (unless par < 0). */
  def newNode(k: Byte, t: Int, par: Int): Int = {
    if (size == kind.length) grow()
    val id = size
    size += 1
    kind(id) = k
    tag(id) = t
    parent(id) = par
    firstChild(id) = -1
    lastChild(id) = -1
    nextSib(id) = -1
    text(id) = null
    attrStart(id) = 0
    attrEnd(id) = 0
    if (par >= 0) {
      if (firstChild(par) < 0) firstChild(par) = id
      else nextSib(lastChild(par)) = id
      lastChild(par) = id
    }
    id
  }

  private def growAttrs(): Unit = {
    val n = nAttrs * 2
    attrNames = java.util.Arrays.copyOf(attrNames, n)
    attrValues = java.util.Arrays.copyOf(attrValues, n)
    attrValStart = java.util.Arrays.copyOf(attrValStart, n)
    attrValEnd = java.util.Arrays.copyOf(attrValEnd, n)
  }

  /** Lazy attribute: value is src[vs, ve), decoded on first read. */
  def addAttrLazy(name: String, vs: Int, ve: Int): Unit = {
    if (nAttrs == attrNames.length) growAttrs()
    attrNames(nAttrs) = name
    attrValues(nAttrs) = null
    attrValStart(nAttrs) = vs
    attrValEnd(nAttrs) = ve
    nAttrs += 1
  }

  /** Attribute lookup (first occurrence wins, per HTML5). Null if absent. */
  def attr(node: Int, name: String): String = {
    var i = attrStart(node)
    val e = attrEnd(node)
    while (i < e) {
      if (attrNames(i) == name) {
        var v = attrValues(i)
        if (v == null) {
          val vs = attrValStart(i)
          val ve = attrValEnd(i)
          v = if (ve <= vs) "" else Entities.decodeAll(src.substring(vs, ve))
          attrValues(i) = v
        }
        return v
      }
      i += 1
    }
    null
  }

  def isElem(node: Int): Boolean = kind(node) == 1
  def isText(node: Int): Boolean = kind(node) == 2

  /** Document-order iteration over the subtree rooted at `root`
    * (excluding `root` itself); `f` returns false to skip a node's
    * subtree.
    */
  def walk(root: Int)(f: Int => Boolean): Unit = {
    var n = firstChild(root)
    while (n >= 0) {
      val descend = f(n)
      var nx = if (descend) -1 else -2
      if (nx == -1) {
        if (firstChild(n) >= 0) nx = firstChild(n)
        else nx = -2
      }
      if (nx == -2) {
        var m = n
        nx = -1
        var done = false
        while (!done && m >= 0 && m != root) {
          if (nextSib(m) >= 0) { nx = nextSib(m); done = true }
          else m = parent(m)
        }
        if (m == root) nx = -1
      }
      n = nx
    }
  }

  /** First descendant element with the given tag id, or -1. */
  def findFirst(root: Int, tagId: Int): Int = {
    var found = -1
    walk(root) { n =>
      if (found < 0 && kind(n) == 1 && tag(n) == tagId) { found = n; false }
      else found < 0
    }
    found
  }
}

/** Global tag-name interning. Known tags get stable small ids. */
object TagDict {
  private val map = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val names = new java.util.concurrent.CopyOnWriteArrayList[String]()

  def intern(name: String): Int = {
    val existing = map.get(name)
    if (existing != null) return existing.intValue()
    map.synchronized {
      val again = map.get(name)
      if (again != null) return again.intValue()
      val id = names.size()
      names.add(name)
      map.put(name, Integer.valueOf(id))
      id
    }
  }

  def name(id: Int): String = names.get(id)

  // stable ids for tags the engine tests by identity
  val Html = intern("html"); val Head = intern("head"); val Body = intern("body")
  val Title = intern("title"); val Meta = intern("meta"); val Link = intern("link")
  val Script = intern("script"); val Style = intern("style")
  val Template = intern("template"); val Noscript = intern("noscript")
  val P = intern("p"); val Div = intern("div"); val Span = intern("span")
  val A = intern("a"); val Img = intern("img"); val Br = intern("br")
  val Hr = intern("hr"); val Ul = intern("ul"); val Ol = intern("ol")
  val Li = intern("li"); val Dl = intern("dl"); val Dt = intern("dt")
  val Dd = intern("dd")
  val Table = intern("table"); val Thead = intern("thead")
  val Tbody = intern("tbody"); val Tfoot = intern("tfoot")
  val Tr = intern("tr"); val Td = intern("td"); val Th = intern("th")
  val H1 = intern("h1"); val H2 = intern("h2"); val H3 = intern("h3")
  val H4 = intern("h4"); val H5 = intern("h5"); val H6 = intern("h6")
  val Pre = intern("pre"); val Blockquote = intern("blockquote")
  val Article = intern("article"); val Section = intern("section")
  val Aside = intern("aside"); val Header = intern("header")
  val Footer = intern("footer"); val Nav = intern("nav")
  val Main = intern("main"); val Figure = intern("figure")
  val Figcaption = intern("figcaption"); val Form = intern("form")
  val Input = intern("input"); val Button = intern("button")
  val Select = intern("select"); val Option_ = intern("option")
  val Optgroup = intern("optgroup"); val Textarea = intern("textarea")
  val Iframe = intern("iframe"); val Em = intern("em")
  val Strong = intern("strong"); val B = intern("b"); val I = intern("i")
  val U = intern("u"); val Small = intern("small"); val Time = intern("time")
  val Address = intern("address"); val Center = intern("center")
  val Font = intern("font"); val Label = intern("label")
  val Fieldset = intern("fieldset"); val Details = intern("details")
  val Summary = intern("summary"); val Menu = intern("menu")
  val Dir = intern("dir"); val Xmp = intern("xmp")
  val Base = intern("base"); val Area = intern("area"); val Col = intern("col")
  val Embed = intern("embed"); val Param = intern("param")
  val Source = intern("source"); val Track = intern("track")
  val Wbr = intern("wbr"); val Caption = intern("caption")
  val Colgroup = intern("colgroup"); val Code = intern("code")
  val Video = intern("video"); val Audio = intern("audio")
  val Canvas = intern("canvas"); val Svg = intern("svg")
  val Object_ = intern("object")

  val MaxKnown: Int = names.size()

  private def mkSet(ids: Int*): Array[Boolean] = {
    val a = new Array[Boolean](MaxKnown)
    ids.foreach(a(_) = true)
    a
  }

  /** HTML void elements (never have children). */
  val voidSet: Array[Boolean] = mkSet(Area, Base, Br, Col, Embed, Hr, Img,
    Input, Link, Meta, Param, Source, Track, Wbr)

  /** Raw-text elements: contents tokenized as text until the matching
    * close tag. Script/style get no entity decoding; title/textarea do.
    */
  val rawTextSet: Array[Boolean] = mkSet(Script, Style, Xmp)
  val rcdataSet: Array[Boolean] = mkSet(Title, Textarea)

  /** Block-ish tags whose start implicitly closes an open `<p>`. */
  val closesP: Array[Boolean] = mkSet(Address, Article, Aside, Blockquote,
    Center, Details, Dir, Div, Dl, Fieldset, Figcaption, Figure, Footer,
    Form, H1, H2, H3, H4, H5, H6, Header, Hr, Main, Menu, Nav, Ol, P, Pre,
    Section, Table, Ul)

  def isVoid(t: Int): Boolean = t < MaxKnown && voidSet(t)
  def isRawText(t: Int): Boolean = t < MaxKnown && rawTextSet(t)
  def isRcdata(t: Int): Boolean = t < MaxKnown && rcdataSet(t)
  def closesOpenP(t: Int): Boolean = t < MaxKnown && closesP(t)
}
