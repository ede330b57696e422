package graft.operators

import java.nio.charset.StandardCharsets

/** Native PDF text extraction (SURVEY §2 S10; reference:
  * `tts_data_pipeline/pre_processing/process_all.py:265-279`,
  * PyMuPDF per-page `get_text` concat) — pure JDK, no PDF library in
  * this offline container (the S11/Mp3Layer3 precedent: implement the
  * published format directly rather than leave a stub standing).
  *
  * What the format requires (PDF 32000-1:2008):
  *   - §7.3.8 stream objects: `<<dict>> stream\r?\n data endstream`,
  *     data length from /Length when direct;
  *   - §7.4.4 FlateDecode: zlib/deflate — `java.util.zip.Inflater`
  *     IS the reference implementation of that filter;
  *   - §9.4 text objects: `BT ... ET` blocks whose text-showing
  *     operators are `Tj` (string), `TJ` (array of strings and kern
  *     numbers), `'` and `"` (next-line show); line-moves `Td`, `TD`,
  *     `T*` (and the `'`/`"` implicit next-line) break lines;
  *   - §7.3.4 string syntax: literal `( )` with nesting and
  *     `\n \r \t \b \f \( \) \\ \ooo` escapes plus
  *     backslash-newline continuation; hex `< >` strings.
  *
  * Structure resolution (§7.7): top-level objects are parsed by
  * LINEAR SCAN into a number → object map (later definitions win, the
  * incremental-update rule §7.5.6) — never via the xref table, which
  * real-world PDFs routinely break; content streams cannot hide in
  * PDF 1.5 object streams (§7.5.7), so the scan sees every one. The
  * DICTS, however, routinely do hide there — catalog/pages/font/
  * encoding objects of every pdftex/FO document since ~2005 live
  * compressed in /ObjStm objects — so those are expanded into the map
  * after crypt detection (without it the page tree never
  * resolves and extraction silently degrades to the no-font-context
  * raw scan). Pages come from the catalog's /Pages /Kids tree walk
  * (reading order); each page's /Contents streams concatenate and its
  * /Resources /Font map binds names to fonts.
  *
  * Font text decoding (§9.10): a font carrying a /ToUnicode CMap —
  * the embedded-subset Type0/CID case that is MOST modern PDFs, where
  * string bytes are opaque glyph codes — decodes through the CMap
  * (codespacerange width, bfchar and both bfrange forms, UTF-16BE
  * targets). A font without one but WITH an /Encoding decodes through
  * the resolved byte table: Annex D's StandardEncoding /
  * WinAnsiEncoding / MacRomanEncoding as the base, /Differences names
  * remapped through the AGL subset ([[PdfEncodings]]) — the WinAnsi
  * 0x80-0x9F punctuation and TeX-era /Differences fonts that Latin-1
  * used to mangle. Fonts with NEITHER fall back to Latin-1
  * byte-preserving decode — exact for unencoded ASCII-range fonts.
  *
  * Deliberate scope (documented, not hidden):
  *   - Identity, /FlateDecode, /LZWDecode (the pre-PDF-1.2 content
  *     compressor), /RunLengthDecode, /ASCIIHexDecode,
  *     /ASCII85Decode, and their chained forms are decoded (§7.4),
  *     honoring per-filter /DecodeParms: PNG row predictors 10-15 and
  *     TIFF predictor 2 on Flate/LZW streams (§7.4.4.4 — generators
  *     that predictor-compress object streams, and pre-1.5 LZW
  *     archives) and LZW /EarlyChange. Streams under image/other
  *     filters (DCTDecode etc.) are skipped — they carry no text
  *     operators.
  *   - ENCRYPTED documents with the standard security handler and an
  *     EMPTY user password — the "owner-locked but freely openable"
  *     class crawls meet — decrypt natively ([[PdfCrypt]]: RC4 V1/V2,
  *     AES-128 /AESV2 with per-object keys, and AES-256 /AESV3 V5
  *     R5/R6 with the direct file key, decrypt-then-filter).
  *   - CID fonts WITHOUT /ToUnicode (no text mapping exists in the
  *     file at all — PyMuPDF emits garbage there too) and real user
  *     passwords stay at the [[graft.pipeline.Externals]] seam; they
  *     fail CLOSED here (the /U gate, and wrongly-keyed streams never
  *     inflate → empty text).
  *   - Documents whose page tree does not resolve fall back to
  *     scanning every stream for BT/ET text (no font context).
  *
  * Page/line assembly mirrors the reference's per-page concat: one
  * line per text line (broken at Td, TD, T-star, and the quote shows),
  * pages in file order, blank-line separated — then the pipeline's
  * sentence tokenizer re-segments anyway (PreprocessPipeline).
  *
  * Form XObjects (§8.10): the `Do` operator recurses into
  * /Subtype /Form streams with the form's own /Resources (inheriting
  * the caller's when absent), cycle-proof — headers, watermarks, and
  * template-generator body text live there, invisible to a
  * /Contents-only walk.
  */
object PdfText {

  /** Per-page text in page-tree order (font-aware), falling back to a
    * raw scan of every BT-bearing stream when the page tree does not
    * resolve. Never throws on malformed input: unparseable
    * objects/streams are skipped (an ingest gate wants "best text or
    * empty", not an executor-killing exception — the IoOps quarantine
    * discipline). */
  def extract(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 8) return ""
    val (objs, masked) =
      try parseObjects(bytes)
      catch { case _: Exception => (Map.empty[Int, PObj], "") }
    val crypt =
      try detectCrypt(masked, objs)
      catch { case _: Exception => UnsupportedCrypt }
    // Fail CLOSED on schemes this extractor does not speak (or a real
    // user password, caught by the /U check): proceeding would pass
    // raw ciphertext through no-/Filter streams, and multi-KB
    // ciphertext contains "BT" and '(' runs often enough to emit
    // random bytes as page text.
    if (crypt == UnsupportedCrypt) return ""
    val ctxOpt = crypt match {
      case WithCrypt(c) => Some(c)
      case _ => None
    }
    // PDF 1.5 object streams (§7.5.7): catalog/pages/font/encoding
    // DICTS routinely live compressed inside /ObjStm objects (every
    // pdftex/FO-processor document since ~2005) — without expanding
    // them the page tree never resolves and extraction degrades to the
    // raw no-font-context scan (both real-world PDFs that PdfTextSpec
    // reads depend on it). Expansion happens AFTER crypt detection
    // because ObjStm data is encrypted like any stream; the /Encrypt
    // dict itself is spec-barred from living in one (§7.5.8.2).
    val allObjs =
      try expandObjStms(objs, ctxOpt)
      catch { case _: Exception => objs }
    val pageTexts =
      try {
        // one ToUnicode parse per font OBJECT per document, not per
        // page referencing it (a 500-page book would otherwise re-inflate
        // its 10 shared CMaps ~5000 times)
        val cmapCache = scala.collection.mutable.Map[Int, Option[CMap]]()
        pagesInOrder(allObjs).map { pageDict =>
          val content = contentsOf(allObjs, pageDict, ctxOpt)
          val res = resourcesOf(allObjs, pageDict)
          val ctx = ExecCtx(allObjs, ctxOpt,
            res.map(fontsFromResources(allObjs, _, cmapCache, ctxOpt))
              .getOrElse(Map.empty),
            res.map(xobjectsFromResources(allObjs, _)).getOrElse(Map.empty),
            cmapCache, Set.empty, 0)
          // a page whose own /Contents has no text may still draw all
          // of it through a FORM XObject (§8.10 — watermark-only and
          // template-driven generators), so the text gate must consider
          // the reachable XObjects too. /Image XObjects can't carry
          // text operators, so image-only pages (scanned books: one
          // /Image per page, no BT anywhere) keep the cheap
          // short-circuit instead of paying a full content scan per
          // page; the dict text is already in hand.
          if (!containsTextOps(content) && !hasFormXObject(allObjs, ctx)) ""
          else contentText(content, ctx)
        }
      } catch { case _: Exception => Seq.empty }
    // no-font, no-XObject context for the fallback scans (per-stream
    // text only — without a resolved page there is no resource map to
    // bind names through)
    val rawCtx = ExecCtx(objs, ctxOpt, Map.empty, Map.empty,
      scala.collection.mutable.Map[Int, Option[CMap]](), Set.empty, 0)
    val texts =
      if (pageTexts.exists(_.nonEmpty)) pageTexts
      else
        // Raw fallback shares extract()'s never-throws contract — it
        // re-parses the same untrusted bytes the graph path failed on.
        // It runs off the OBJECT map first (per-object numbers keep
        // decryption working — a blind any-stream scan cannot
        // decrypt, and would silently empty encrypted docs with a
        // broken page tree), with the blind stream scan last for
        // fragments parseObjects missed entirely.
        try {
          val fromObjs = objs.toSeq.sortBy(_._1).iterator
            .filter(_._2.data.isDefined)
            .map { case (num, o) => decodeStream(num, o, ctxOpt) }
            .filter(containsTextOps)
            .map(contentText(_, rawCtx))
            .toSeq
          if (fromObjs.exists(_.nonEmpty) || ctxOpt.isDefined) fromObjs
          else streams(bytes).iterator
            .map(decode)
            .filter(containsTextOps)
            .map(contentText(_, rawCtx))
            .toSeq
        } catch { case _: Exception => Seq.empty }
    texts.filter(_.nonEmpty).mkString("\n\n")
  }

  // --------------------------------------------------- document graph

  /** `off` = file offset of the definition's `N G obj` header — for
    * ObjStm-contained objects, the offset of the CONTAINING stream's
    * header. Merge precedence is later-offset-wins (§7.5.6 incremental
    * updates, in BOTH directions — see [[expandObjStms]]). */
  private final case class PObj(dict: String, gen: Int,
    data: Option[Array[Byte]], off: Int = 0)

  /** Object number → final definition, linear scan (§7.5.6: a later
    * `N G obj` supersedes an earlier one — incremental updates). The
    * `dict` field holds the object's dictionary text, or its raw body
    * text for non-dict objects (bare numbers serving as indirect
    * /Length values). */
  /** Also returns the file text with stream extents BLANKED — the only
    * safe haystack for whole-file regex scans like /Encrypt and /ID
    * detection (an uncompressed embedded attachment could otherwise
    * plant a phantom trailer). */
  private def parseObjects(b: Array[Byte]): (Map[Int, PObj], String) = {
    val s = new String(b, StandardCharsets.ISO_8859_1)
    val extents = scala.collection.mutable.Buffer[(Int, Int)]()
    val out = scala.collection.mutable.LinkedHashMap[Int, PObj]()
    val objRe = """(\d{1,9})\s+(\d{1,5})\s+obj\b""".r
    // matches starting INSIDE a previously-delimited stream extent are
    // phantom objects (an embedded uncompressed PDF/XML
    // attachment containing "3 0 obj" text would otherwise clobber the
    // host's real object 3 under the later-definition-wins rule)
    var skipUntil = 0
    for (m <- objRe.findAllMatchIn(s) if m.start >= skipUntil) {
      val num = m.group(1).toInt
      val gen = m.group(2).toInt
      var i = m.end
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i + 1 < s.length && s.charAt(i) == '<' && s.charAt(i + 1) == '<') {
        dictEnd(s, i).foreach { end =>
          val dict = s.substring(i, end)
          var k = end
          while (k < s.length && s.charAt(k).isWhitespace) k += 1
          val data =
            if (s.startsWith("stream", k)) {
              var d = k + 6
              if (d < s.length && s.charAt(d) == '\r') d += 1
              if (d < s.length && s.charAt(d) == '\n') d += 1
              val stop = directLength(dict) match {
                case Some(n) if d + n <= b.length => d + n
                case _ =>
                  val e = s.indexOf("endstream", d)
                  if (e < 0) b.length else e
              }
              skipUntil = stop
              extents += ((d, stop))
              Some(java.util.Arrays.copyOfRange(b, d, stop))
            } else None
          out(num) = PObj(dict, gen, data, m.start)
        }
      } else {
        val e = s.indexOf("endobj", i)
        // 4000 chars keeps bare numbers and /Contents arrays whole
        // (hundreds of refs) while bounding pathological bodies
        if (e > i)
          out(num) = PObj(s.substring(i, e).trim.take(4000), gen, None, m.start)
      }
    }
    val masked =
      if (extents.isEmpty) s
      else {
        val arr = s.toCharArray
        for ((a, z) <- extents; i <- a until math.min(z, arr.length))
          arr(i) = ' '
        new String(arr)
      }
    (out.toMap, masked)
  }

  /** §7.5.7 object-stream expansion: every /Type /ObjStm stream is
    * decrypted+decoded and its contained objects are merged into the
    * object map. The stream layout is N pairs of integers
    * `objnum offset` (offset relative to /First), then the object
    * bodies — dicts (catalog, pages, fonts, encodings) and small
    * non-dict values; contained objects are never themselves streams
    * (§7.5.7 forbids it), so `data` is always None. Merge precedence is
    * FILE POSITION, not container kind: an incremental
    * update appends plain `N 0 obj` redefinitions after the original
    * ObjStm (top-level wins), but a full-save rewriter (qpdf
    * --object-streams, Acrobat save-as) recompresses the live
    * definitions into a NEW ObjStm later in the file while a stale
    * top-level body may remain earlier — so each contained object
    * carries its container's header offset and the later-in-file
    * definition wins in both directions. */
  private def expandObjStms(objs: Map[Int, PObj],
      crypt: Option[PdfCrypt.Ctx]): Map[Int, PObj] = {
    val stms = objs.toSeq.filter { case (_, o) =>
      o.data.isDefined && o.dict.contains("/ObjStm")
    }.sortBy(_._2.off)
    if (stms.isEmpty) return objs
    val extra = scala.collection.mutable.LinkedHashMap[Int, PObj]()
    for ((num, o) <- stms) {
      val top = topLevel(o.dict)
      (intVal(top, "/N"), intVal(top, "/First")) match {
        case (Some(n), Some(first))
            if n > 0 && n <= 100000 && first >= 0 =>
          val data = decodeStream(num, o, crypt)
          if (first <= data.length) {
            val s = new String(data, StandardCharsets.ISO_8859_1)
            val header = s.substring(0, first)
            val pairs = """(\d{1,9})\s+(\d{1,9})""".r
              .findAllMatchIn(header)
              .map(m => (m.group(1).toInt, m.group(2).toInt))
              .take(n).toSeq
            for ((onum, off) <- pairs if first + off < s.length) {
              val start = first + off
              val body =
                if (s.startsWith("<<", start))
                  dictEnd(s, start).map(e => s.substring(start, e))
                else {
                  // non-dict body runs to the next object's offset
                  val next = pairs.collectFirst {
                    case (_, o2) if o2 > off => first + o2
                  }.getOrElse(s.length)
                  Some(s.substring(start, math.min(next, s.length))
                    .trim.take(4000))
                }
              body.foreach(b => extra(onum) = PObj(b, 0, None, o.off))
            }
          }
        case _ =>
      }
    }
    // later-in-file wins (see scaladoc): streams were walked in file
    // order so within `extra` later ObjStms already superseded earlier
    // ones; against top-level definitions, compare header offsets
    val merged = scala.collection.mutable.Map[Int, PObj]() ++ objs
    for ((k, e) <- extra)
      if (!merged.get(k).exists(_.off >= e.off)) merged(k) = e
    merged.toMap
  }

  /** End index (exclusive) of the balanced `<< ... >>` starting at i.
    * STRING-AWARE: literal `(...)` and hex `<...>` string
    * values are skipped whole — the 32 random-ish bytes of /O and /U in
    * Encrypt dicts contain '>>' or '<<' in ~0.1% of encrypted
    * documents, and counting those would truncate/extend the dict
    * extent and silently drop an otherwise-supported document. */
  private def dictEnd(s: String, i0: Int): Option[Int] = {
    var depth = 0
    var j = i0
    while (j < s.length - 1) {
      val c = s.charAt(j)
      if (c == '<' && s.charAt(j + 1) == '<') { depth += 1; j += 2 }
      else if (c == '>' && s.charAt(j + 1) == '>') {
        depth -= 1; j += 2
        if (depth == 0) return Some(j)
      } else if (c == '(') j = literalString(s, j)._2
      else if (c == '<') { // hex string: no '>' can occur inside
        var k = j + 1
        while (k < s.length && s.charAt(k) != '>') k += 1
        j = k + 1
      } else j += 1
    }
    None
  }

  private val RefRe = """(\d{1,9})\s+\d{1,5}\s+R""".r

  /** The value of /Key in `dict` as DICT TEXT: inline `<<...>>`, or an
    * indirect reference resolved through the object map. */
  private def subDict(objs: Map[Int, PObj], dict: String, key: String)
      : Option[String] = {
    val i = dict.indexOf(key)
    if (i < 0) return None
    var j = i + key.length
    while (j < dict.length && dict.charAt(j).isWhitespace) j += 1
    if (j + 1 < dict.length && dict.charAt(j) == '<' && dict.charAt(j + 1) == '<')
      dictEnd(dict, j).map(e => dict.substring(j, e))
    else
      RefRe.findPrefixMatchOf(dict.substring(j, math.min(dict.length, j + 24)))
        .flatMap(m => objs.get(m.group(1).toInt)).map(_.dict)
  }

  /** Pages in catalog /Kids reading order; encounter order when the
    * tree does not resolve. Cycle-proof via a visited set. */
  private def pagesInOrder(objs: Map[Int, PObj]): Seq[String] = {
    val byKids = {
      val visited = scala.collection.mutable.Set[Int]()
      val acc = scala.collection.mutable.Buffer[String]()
      def walk(num: Int, depth: Int): Unit =
        if (depth < 64 && visited.add(num)) objs.get(num).foreach { o =>
          if (o.dict.contains("/Kids")) {
            // kids of THIS node only: slice the /Kids [...] array
            val ki = o.dict.indexOf("/Kids")
            val open = o.dict.indexOf('[', ki)
            val close = if (open >= 0) o.dict.indexOf(']', open) else -1
            if (open >= 0 && close > open)
              RefRe.findAllMatchIn(o.dict.substring(open, close))
                .foreach(m => walk(m.group(1).toInt, depth + 1))
          } else if (isPage(o.dict)) acc += o.dict
        }
      for {
        cat <- objs.values.find(_.dict.contains("/Catalog"))
        m <- RefRe.findFirstMatchIn(
          cat.dict.substring(math.max(cat.dict.indexOf("/Pages"), 0)))
      } walk(m.group(1).toInt, 0)
      acc.toSeq
    }
    if (byKids.nonEmpty) byKids
    else objs.values.collect { case o if isPage(o.dict) => o.dict }.toSeq
  }

  private def isPage(dict: String): Boolean =
    """/Type\s*/Page(?![a-zA-Z])""".r.findFirstIn(dict).isDefined

  /** The page's decoded /Contents — single stream or array pieces
    * concatenated with a separator (§7.8.2: the pieces form ONE
    * logical stream; the separator byte keeps adjacent tokens from
    * fusing across piece boundaries). */
  private def contentsOf(objs: Map[Int, PObj], pageDict: String,
      crypt: Option[PdfCrypt.Ctx]): Array[Byte] = {
    val i = pageDict.indexOf("/Contents")
    if (i < 0) return Array.emptyByteArray
    var j = i + 9
    while (j < pageDict.length && pageDict.charAt(j).isWhitespace) j += 1
    val refs0 =
      if (j < pageDict.length && pageDict.charAt(j) == '[') {
        val close = pageDict.indexOf(']', j)
        RefRe.findAllMatchIn(
          pageDict.substring(j, if (close < 0) pageDict.length else close))
          .map(_.group(1).toInt).toSeq
      } else RefRe.findPrefixMatchOf(
        pageDict.substring(j, math.min(pageDict.length, j + 24)))
        .map(m => Seq(m.group(1).toInt)).getOrElse(Seq.empty)
    // /Contents may point INDIRECTLY at an array object (§7.7.3.3):
    // a resolved non-stream object whose body is an
    // array expands one level into its stream refs.
    val refs = refs0.flatMap { r =>
      objs.get(r) match {
        case Some(PObj(d, _, None, _)) if d.startsWith("[") =>
          RefRe.findAllMatchIn(d).map(_.group(1).toInt).toSeq
        case _ => Seq(r)
      }
    }
    val pieces = refs.flatMap(r => objs.get(r).map(r -> _)).collect {
      case (num, o @ PObj(_, _, Some(_), _)) => decodeStream(num, o, crypt)
    }
    if (pieces.isEmpty) Array.emptyByteArray
    else pieces.reduce((a, c) => a ++ Array[Byte]('\n') ++ c)
  }

  /** How a font's string bytes become text (§9.10 priority order):
    * a /ToUnicode CMap when present (authoritative), else the font's
    * /Encoding resolved to a 256-entry byte table (Annex D base
    * encodings + /Differences remap — [[PdfEncodings]]); fonts
    * with NEITHER stay unbound and fall back to Latin-1 byte decode. */
  private sealed trait FontDec
  private final case class CMapDec(cm: CMap) extends FontDec
  private final case class ByteDec(table: Array[String]) extends FontDec

  /** Everything the content-stream scanner needs to decode text and to
    * follow `Do` into Form XObjects (§8.10): the object map, the
    * crypt context, the active resource bindings, the shared CMap
    * cache, and the recursion guards (a visited set so sibling Do
    * references still both render while reference CYCLES terminate,
    * plus a depth cap). */
  private final case class ExecCtx(
      objs: Map[Int, PObj],
      crypt: Option[PdfCrypt.Ctx],
      fonts: Map[String, FontDec],
      xobjects: Map[String, Int],
      cmapCache: scala.collection.mutable.Map[Int, Option[CMap]],
      visited: Set[Int],
      depth: Int)

  /** The page's /Resources dict text, walking the /Parent chain
    * (§7.7.3.4 inheritance: pages that omit /Resources and
    * inherit the font map from their /Pages node would otherwise
    * decode CID text as Latin-1 garbage). */
  private def resourcesOf(objs: Map[Int, PObj], pageDict0: String)
      : Option[String] = {
    var pageDict = pageDict0
    var res: Option[String] = None
    var depth = 0
    while (res.isEmpty && depth < 16) {
      res = subDict(objs, pageDict, "/Resources")
      if (res.isEmpty) {
        val parent = for {
          i <- Some(pageDict.indexOf("/Parent")) if i >= 0
          m <- RefRe.findFirstMatchIn(pageDict.substring(i))
          p <- objs.get(m.group(1).toInt)
        } yield p.dict
        parent match {
          case Some(d) if d != pageDict => pageDict = d
          case _ => depth = 16
        }
      }
      depth += 1
    }
    res
  }

  private val ResEntryRe =
    """/([A-Za-z0-9.#_+-]+)\s+(\d{1,9})\s+\d{1,5}\s+R""".r

  /** Resource-name → text decoder for every font in a /Resources dict
    * that has a /ToUnicode CMap or an /Encoding.
    * `cmapCache` memoizes parsed CMaps by ToUnicode object number. */
  private def fontsFromResources(objs: Map[Int, PObj], res: String,
      cmapCache: scala.collection.mutable.Map[Int, Option[CMap]],
      crypt: Option[PdfCrypt.Ctx]): Map[String, FontDec] =
    subDict(objs, res, "/Font") match {
      case None => Map.empty
      case Some(fd) =>
        ResEntryRe.findAllMatchIn(fd).flatMap { m =>
          for {
            font <- objs.get(m.group(2).toInt)
            dec <- tounicodeOf(objs, font.dict, cmapCache, crypt)
              .map(CMapDec(_): FontDec)
              .orElse(encodingOf(objs, font.dict).map(ByteDec(_): FontDec))
          } yield m.group(1) -> dec
        }.toMap
    }

  /** True when any XObject reachable from the page's resources is a
    * Form (the only /Subtype whose stream can carry text operators —
    * the same gate the Do handler applies before recursing). */
  private def hasFormXObject(objs: Map[Int, PObj], ctx: ExecCtx): Boolean =
    ctx.xobjects.values.exists(n => objs.get(n).exists(o =>
      o.data.isDefined &&
        """/Subtype\s*/Form""".r.findFirstIn(o.dict).isDefined))

  /** Resource-name → object number for the /XObject entries. */
  private def xobjectsFromResources(objs: Map[Int, PObj], res: String)
      : Map[String, Int] =
    subDict(objs, res, "/XObject") match {
      case None => Map.empty
      case Some(xd) =>
        ResEntryRe.findAllMatchIn(xd)
          .map(m => m.group(1) -> m.group(2).toInt).toMap
    }

  /** The font's /Encoding as a 256-entry code → text table: the Annex D
    * base encoding (named directly, or /BaseEncoding inside an
    * encoding dict) with the dict's /Differences array applied
    * (§9.6.6.3: an integer sets the next code, each name then assigns
    * consecutive codes). None = the font has no /Encoding at all — the
    * caller's Latin-1 byte fallback stays for those (a symbolic font's
    * built-in encoding lives inside the font program, which this
    * extractor does not parse). A /Differences dict WITHOUT
    * /BaseEncoding bases on StandardEncoding — §9.6.6.2's non-symbolic
    * default; TeX-era fonts (the main /Differences producers) remap
    * every code they actually use anyway. */
  private def encodingOf(objs: Map[Int, PObj], fontDict: String)
      : Option[Array[String]] = {
    // Key lookup runs on the TOP-LEVEL-blanked text with a delimiter
    // required after the key (a raw indexOf could bind a match inside
    // a nested dict value or a string, and would bind /EncodingX-style
    // longer keys, which would then fail safe only by value-shape accident).
    // topLevel() blanks in place, so offsets transfer to fontDict —
    // the VALUE (possibly an inline nested dict, which topLevel
    // blanked) is read from the original text.
    val tl = topLevel(fontDict)
    var i = -1
    var from = 0
    while (i < 0) {
      val c = tl.indexOf("/Encoding", from)
      if (c < 0) return None
      val after = c + 9
      if (after >= tl.length || " \t\r\n/<[(".contains(tl.charAt(after))) i = c
      else from = after
    }
    var j = i + 9
    while (j < fontDict.length && fontDict.charAt(j).isWhitespace) j += 1
    // three value shapes: a base-encoding name, an inline encoding
    // dict, an indirect reference to an encoding dict
    val encDict: Option[String] =
      if (j + 1 < fontDict.length && fontDict.charAt(j) == '<' &&
          fontDict.charAt(j + 1) == '<')
        dictEnd(fontDict, j).map(e => fontDict.substring(j, e))
      else if (j < fontDict.length && fontDict.charAt(j) == '/') {
        var k = j + 1
        while (k < fontDict.length &&
          !" \t\r\n()<>[]/%".contains(fontDict.charAt(k))) k += 1
        return PdfEncodings.byName(fontDict.substring(j + 1, k))
      } else
        // an indirect ref: an encoding DICT object. A STREAM target is
        // a Type0 font's embedded CMap (not a simple-font encoding) —
        // building a byte table from its stream dict would decode
        // 2-byte CID text through StandardEncoding garbage; leave those
        // to the ToUnicode/Latin-1 paths.
        RefRe.findPrefixMatchOf(
            fontDict.substring(j, math.min(fontDict.length, j + 24)))
          .flatMap(m => objs.get(m.group(1).toInt))
          .filter(_.data.isEmpty).map(_.dict)
    encDict.flatMap { enc =>
      // an indirect /Encoding may resolve to a bare NAME object
      """^\s*/([A-Za-z]+)\s*$""".r.findFirstMatchIn(enc) match {
        case Some(m) => PdfEncodings.byName(m.group(1))
        case None => Some(buildEncTable(enc))
      }
    }
  }

  private def buildEncTable(enc: String): Array[String] = {
      val t = """/BaseEncoding\s*/([A-Za-z]+)""".r.findFirstMatchIn(enc)
        .flatMap(m => PdfEncodings.byName(m.group(1)))
        .getOrElse(PdfEncodings.standard)
        .clone()
      val di = enc.indexOf("/Differences")
      if (di >= 0) {
        val open = enc.indexOf('[', di)
        val close = if (open >= 0) enc.indexOf(']', open) else -1
        if (open >= 0) {
          val body = enc.substring(open + 1,
            if (close < 0) enc.length else close)
          val tok = """(\d{1,5})|/([^\s/\[\]()<>{}%]+)""".r
          var code = -1
          for (m <- tok.findAllMatchIn(body)) {
            if (m.group(1) != null) code = m.group(1).toInt
            else if (code >= 0 && code < 256) {
              // a name outside the AGL subset (subset-private gNN) maps
              // the code to NO text, not to the base glyph it replaced
              t(code) = PdfEncodings.glyphText(m.group(2)).orNull
              code += 1
            }
          }
        }
      }
      t
  }

  private def tounicodeOf(objs: Map[Int, PObj], fontDict: String,
      cmapCache: scala.collection.mutable.Map[Int, Option[CMap]],
      crypt: Option[PdfCrypt.Ctx]): Option[CMap] = {
    val i = fontDict.indexOf("/ToUnicode")
    if (i < 0) return None
    RefRe.findFirstMatchIn(fontDict.substring(i)).flatMap { m =>
      val num = m.group(1).toInt
      cmapCache.getOrElseUpdate(num,
        // per-font isolation: one unparseable CMap must
        // not discard the whole document's font-aware extraction
        try for {
          o <- objs.get(num) if o.data.isDefined
          cm <- parseCMap(new String(
            decodeStream(num, o, crypt), StandardCharsets.ISO_8859_1))
        } yield cm
        catch { case _: Exception => None })
    }
  }

  /** Decrypt-then-filter one stream object (§7.6.2: encryption wraps
    * the already-encoded stream data, so decryption comes first). */
  private def decodeStream(num: Int, o: PObj,
      crypt: Option[PdfCrypt.Ctx]): Array[Byte] =
    o.data match {
      case None => Array.emptyByteArray
      case Some(d0) =>
        val d = crypt match {
          case Some(ctx) => PdfCrypt.decrypt(ctx, num, o.gen, d0)
          case None => d0
        }
        decode((o.dict, d))
    }

  // ------------------------------------------------------- encryption

  private sealed trait Crypt
  private case object NoCrypt extends Crypt
  private case object UnsupportedCrypt extends Crypt
  private final case class WithCrypt(ctx: PdfCrypt.Ctx) extends Crypt

  /** Standard-security-handler detection over the STREAM-MASKED file
    * text. NoCrypt = unencrypted; WithCrypt = a scheme this extractor
    * speaks AND the stored /U proves the empty user password opens it;
    * UnsupportedCrypt = everything else (extraction fails closed —
    * see extract()). */
  private def detectCrypt(masked: String, objs: Map[Int, PObj]): Crypt = {
    val encRe = """/Encrypt\s+(\d{1,9})\s+\d{1,5}\s+R""".r
    encRe.findAllMatchIn(masked).toSeq.lastOption match {
      case None => NoCrypt
      case Some(m) =>
        val vOf = objs.get(m.group(1).toInt)
          .map(e => intVal(topLevel(e.dict), "/V").getOrElse(1))
        if (vOf.contains(5)) return detectCryptV5(objs(m.group(1).toInt).dict)
        val built = for {
          enc <- objs.get(m.group(1).toInt)
          d = enc.dict
          // nested sub-dicts (the /CF crypt-filter map) carry their own
          // /Length IN BYTES — scanning the whole dict would pick it up
          // over the top-level bit length (Acrobat orders keys
          // alphabetically, /CF before /Length)
          top = topLevel(d)
          if d.contains("/Standard")
          v <- intVal(top, "/V").orElse(Some(1)) if v >= 1 && v <= 4
          o <- stringVal(d, "/O") if o.length >= 32
          aes = v == 4 && d.contains("/AESV2")
          if aes || v <= 2 || (v == 4 && d.contains("/V2"))
        } yield {
          val r = intVal(top, "/R").getOrElse(if (v >= 2) 3 else 2)
          val p = intVal(top, "/P").getOrElse(-1)
          val lenBits = intVal(top, "/Length").getOrElse(if (v == 1) 40 else 128)
          val encMeta = !top.replaceAll("\\s+", " ")
            .contains("/EncryptMetadata false")
          val keyBytes =
            if (r == 2) 5
            else if (aes) 16
            else math.max(5, math.min(16, lenBits / 8))
          val fid = fileIdOf(masked)
          val key = PdfCrypt.fileKey(o, p, fid, r, keyBytes, encMeta)
          // The /U gate: a stored /U that the empty-password key cannot
          // reproduce means a REAL user password (or a derivation this
          // code gets wrong) — either way ciphertext must not flow.
          // Documents without /U are tolerated (out-of-spec but seen).
          stringVal(d, "/U") match {
            case Some(u) if !PdfCrypt.checkEmptyUser(key, fid, r, u) =>
              UnsupportedCrypt
            case _ => WithCrypt(PdfCrypt.Ctx(key, aes))
          }
        }
        built.getOrElse(UnsupportedCrypt)
    }
  }

  /** /V 5 (AES-256, ISO 32000-2): R 5 (legacy single-SHA-256) or R 6
    * (Algorithm 2.B hardened hash), /AESV3 crypt filter only. The /U
    * hash IS the empty-user-password gate (Algorithm 11); the file
    * key comes from /UE, and an exposed /Perms must pass Algorithm
    * 13's "adb" check (absent /Perms tolerated — some R5-era
    * producers omitted it). Anything else fails closed. */
  private def detectCryptV5(d: String): Crypt = {
    val top = topLevel(d)
    val r = intVal(top, "/R").getOrElse(6)
    val built = for {
      _ <- Option.when(d.contains("/Standard"))(())
      _ <- Option.when(r == 5 || r == 6)(())
      _ <- Option.when(d.contains("/AESV3"))(())
      u <- stringVal(d, "/U")
      ue <- stringVal(d, "/UE")
      key <- PdfCrypt.fileKeyV5(r, u, ue)
      if stringVal(d, "/Perms").forall(PdfCrypt.checkPerms(key, _))
    } yield WithCrypt(PdfCrypt.Ctx(key, aes = true, v5 = true))
    built.getOrElse(UnsupportedCrypt)
  }

  /** The dict text with every NESTED `<< >>` body blanked, so regex
    * lookups hit top-level keys only. STRING-AWARE like dictEnd: it runs on
    * Encrypt dicts, whose /O and /U values are 32 random-ish bytes — a
    * literal string containing '<<' would push
    * the depth count and blank every key after it (e.g. /V), silently
    * demoting a supported scheme to fail-closed. */
  private def topLevel(dict: String): String = {
    val arr = dict.toCharArray
    var depth = 0
    var i = 0
    while (i < arr.length - 1) {
      if (arr(i) == '<' && arr(i + 1) == '<') {
        depth += 1
        if (depth > 1) { arr(i) = ' '; arr(i + 1) = ' ' }
        i += 2
      } else if (arr(i) == '>' && arr(i + 1) == '>') {
        if (depth > 1) { arr(i) = ' '; arr(i + 1) = ' ' }
        depth -= 1
        i += 2
      } else if (arr(i) == '(') {
        // literal string: skip its span whole (keep it when top-level —
        // stringVal reads /O and /U from the unblanked text)
        val end = literalString(dict, i)._2
        if (depth > 1) { var k = i; while (k < end && k < arr.length) { arr(k) = ' '; k += 1 } }
        i = end
      } else if (arr(i) == '<') { // hex string: no '>' inside
        var k = i + 1
        while (k < arr.length && arr(k) != '>') k += 1
        if (depth > 1) { var m = i; while (m <= k && m < arr.length) { arr(m) = ' '; m += 1 } }
        i = k + 1
      } else {
        if (depth > 1) arr(i) = ' '
        i += 1
      }
    }
    new String(arr)
  }

  private def intVal(dict: String, key: String): Option[Int] =
    (java.util.regex.Pattern.quote(key) + """\s+(-?\d{1,10})(?![\d])""").r
      .findFirstMatchIn(dict)
      .flatMap(m => m.group(1).toLongOption)
      // TRUNCATE to the low 32 bits instead of rejecting: real
      // producers write /P as the unsigned equivalent of the negative
      // permissions int (the PDFBox/pdf.js behavior)
      .map(_.toInt)

  /** The raw bytes of the string value at /Key (literal or hex). */
  private def stringVal(dict: String, key: String): Option[Array[Byte]] = {
    var from = 0
    while (from >= 0) {
      val i = dict.indexOf(key, from)
      if (i < 0) return None
      var j = i + key.length
      // require a real delimiter so /O never matches inside /OE etc.
      if (j < dict.length && " \t\r\n(<".contains(dict.charAt(j))) {
        while (j < dict.length && dict.charAt(j).isWhitespace) j += 1
        if (j < dict.length && dict.charAt(j) == '(') {
          val (str, _) = literalString(dict, j)
          return Some(str.getBytes(StandardCharsets.ISO_8859_1))
        } else if (j < dict.length && dict.charAt(j) == '<' &&
            (j + 1 >= dict.length || dict.charAt(j + 1) != '<')) {
          val (str, _) = hexString(dict, j)
          return Some(str.getBytes(StandardCharsets.ISO_8859_1))
        }
      }
      from = i + key.length
    }
    None
  }

  /** First file identifier from the LAST /ID [ ... ] in the file. */
  private def fileIdOf(s: String): Array[Byte] = {
    val idRe = """/ID\s*\[""".r
    idRe.findAllMatchIn(s).toSeq.lastOption match {
      case None => Array.emptyByteArray
      case Some(m) =>
        val j = m.end
        var k = j
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        if (k < s.length && s.charAt(k) == '<')
          hexString(s, k)._1.getBytes(StandardCharsets.ISO_8859_1)
        else if (k < s.length && s.charAt(k) == '(')
          literalString(s, k)._1.getBytes(StandardCharsets.ISO_8859_1)
        else Array.emptyByteArray
    }
  }

  // ------------------------------------------------------ ToUnicode

  /** code width in BYTES + code → UTF-16 target string. */
  private final case class CMap(codeBytes: Int, map: Map[Int, String])

  private val HexTokRe = """<([0-9A-Fa-f]+)>""".r
  private val MaxCMapEntries = 100000 // subset fonts are small; a
  // <0000> <FFFF> identity range would otherwise expand unbounded

  private def parseCMap(text: String): Option[CMap] = {
    val width = {
      val cs = sliceAll(text, "begincodespacerange", "endcodespacerange")
        .flatMap(HexTokRe.findFirstMatchIn(_).map(_.group(1).length / 2))
      cs.headOption.getOrElse {
        // infer from the first mapping's source token
        sliceAll(text, "beginbfchar", "endbfchar")
          .++(sliceAll(text, "beginbfrange", "endbfrange"))
          .flatMap(HexTokRe.findFirstMatchIn(_).map(_.group(1).length / 2))
          .headOption.getOrElse(2)
      }
    }
    val entries = scala.collection.mutable.Map[Int, String]()
    def utf16(hex: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i + 4 <= hex.length) {
        sb.append(Integer.parseInt(hex.substring(i, i + 4), 16).toChar)
        i += 4
      }
      if (i + 2 <= hex.length) // odd: a bare byte target
        sb.append(Integer.parseInt(hex.substring(i, i + 2), 16).toChar)
      sb.toString
    }
    // total hex parse: codes past Int range (4-byte CMaps beyond
    // <7FFFFFFF>) drop the ENTRY, not the document (an
    // Integer.parseInt throw here would discard every page's
    // font-aware extraction through the outer catch)
    def hexCode(h: String): Option[Int] =
      if (h.length > 8) None
      else java.lang.Long.parseLong(h, 16) match {
        case v if v <= Int.MaxValue => Some(v.toInt)
        case _ => None
      }
    for (block <- sliceAll(text, "beginbfchar", "endbfchar")) {
      val toks = HexTokRe.findAllMatchIn(block).map(_.group(1)).toSeq
      toks.grouped(2).foreach {
        case Seq(src, dst) if entries.size < MaxCMapEntries =>
          hexCode(src).foreach(c => entries(c) = utf16(dst))
        case _ =>
      }
    }
    for (block <- sliceAll(text, "beginbfrange", "endbfrange")) {
      // two forms: <lo> <hi> <dstStart>   |   <lo> <hi> [<d1> <d2> ...]
      val itemRe =
        """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[[^\]]*\])""".r
      for {
        m <- itemRe.findAllMatchIn(block)
        lo <- hexCode(m.group(1))
        hi <- hexCode(m.group(2))
      } {
        m.group(3) match {
          case arr if arr.startsWith("[") =>
            val dsts = HexTokRe.findAllMatchIn(arr).map(_.group(1)).toSeq
            for ((d, k) <- dsts.zipWithIndex
                 if lo + k <= hi && entries.size < MaxCMapEntries)
              entries(lo + k) = utf16(d)
          case one =>
            val dstHex = one.substring(1, one.length - 1)
            val base = utf16(dstHex)
            var c = lo
            while (c <= hi && entries.size < MaxCMapEntries) {
              // §9.10.3: the offset adds to the LAST UTF-16 code unit
              val s =
                if (base.isEmpty) ""
                else base.init + (base.last + (c - lo)).toChar
              entries(c) = s
              c += 1
            }
        }
      }
    }
    if (entries.isEmpty) None else Some(CMap(width, entries.toMap))
  }

  /** Every `open ... close` block body, non-overlapping, in order. */
  private def sliceAll(text: String, open: String, close: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var i = 0
    var go = true
    while (go) {
      val a = text.indexOf(open, i)
      val b = if (a < 0) -1 else text.indexOf(close, a + open.length)
      if (a < 0 || b < 0) go = false
      else { out += text.substring(a + open.length, b); i = b + close.length }
    }
    out.toSeq
  }

  // ------------------------------------------------------ object scan

  /** (dict-text, raw-stream-bytes) for every `<<...>> stream` object.
    * Balanced `<<`/`>>` counting delimits the dict; /Length (direct
    * ints only) sizes the data, else the next `endstream` keyword. */
  private def streams(b: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.Buffer[(String, Array[Byte])]()
    var i = 0
    while (i >= 0 && i < b.length) {
      i = indexOf(b, "<<", i)
      if (i >= 0) {
        // balance << against >>, skipping string spans (the same
        // string-awareness as dictEnd — see there)
        val LT = '<'.toByte; val GT = '>'.toByte
        val OP = '('.toByte; val CP = ')'.toByte; val BS = '\\'.toByte
        var depth = 0
        var j = i
        var end = -1
        while (end < 0 && j < b.length - 1) {
          val c = b(j)
          if (c == LT && b(j + 1) == LT) { depth += 1; j += 2 }
          else if (c == GT && b(j + 1) == GT) {
            depth -= 1; j += 2
            if (depth == 0) end = j
          } else if (c == OP) { // literal string: nesting + escapes
            var sd = 1
            j += 1
            while (sd > 0 && j < b.length) {
              if (b(j) == BS) j += 2
              else {
                if (b(j) == OP) sd += 1
                else if (b(j) == CP) sd -= 1
                j += 1
              }
            }
          } else if (c == LT) { // hex string: no '>' inside
            j += 1
            while (j < b.length && b(j) != GT) j += 1
            j += 1
          } else j += 1
        }
        if (end < 0) i = -1
        else {
          val dict = new String(b, i, end - i, StandardCharsets.ISO_8859_1)
          var k = end
          while (k < b.length && (b(k) == ' ' || b(k) == '\r' || b(k) == '\n' ||
            b(k) == '\t')) k += 1
          if (k + 6 <= b.length &&
              new String(b, k, 6, StandardCharsets.ISO_8859_1) == "stream") {
            var d = k + 6
            if (d < b.length && b(d) == '\r') d += 1
            if (d < b.length && b(d) == '\n') d += 1
            val len = directLength(dict)
            val stop = len match {
              case Some(n) if d + n <= b.length => d + n
              case _ =>
                val e = indexOf(b, "endstream", d)
                if (e < 0) b.length else e
            }
            out += ((dict, java.util.Arrays.copyOfRange(b, d, stop)))
            i = stop
          } else i = end
        }
      }
    }
    out.toSeq
  }

  // (?!\d) pins the capture at the full number — without it the engine
  // backtracks `/Length 12 0 R` to capture "1" just to satisfy the
  // indirect-reference lookahead; with both, an indirect /Length finds
  // no match and the endstream-keyword fallback sizes the data. The
  // 1-9 digit bound keeps toInt total (a corrupt
  // `/Length 99999999999999` must fall to the endstream fallback, not
  // throw through extract()'s never-throws contract).
  private val LenRe = """/Length\s+(\d{1,9})(?!\d)(?!\s*\d+\s+R)""".r
  private def directLength(dict: String): Option[Int] =
    LenRe.findFirstMatchIn(dict).map(_.group(1).toInt)

  private def indexOf(b: Array[Byte], s: String, from: Int): Int = {
    val pat = s.getBytes(StandardCharsets.ISO_8859_1)
    var i = math.max(from, 0)
    while (i <= b.length - pat.length) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  // --------------------------------------------------------- filters

  /** Identity, /FlateDecode, /LZWDecode, /RunLengthDecode,
    * /ASCIIHexDecode, /ASCII85Decode, and their chains (§7.4.1:
    * filters apply in array order, so an `[/ASCII85Decode
    * /FlateDecode]` stream un-85s then inflates); anything else (or a
    * decode failure) → empty. LZW matters for real corpora: pre-2000
    * Acrobat compressed CONTENT streams with it (Flate arrived in
    * PDF 1.2), so an LZW-era scan of a book archive hits it on the
    * exact documents OCR'd least recently. */
  private def decode(s: (String, Array[Byte])): Array[Byte] = {
    val (dict, data) = s
    if (!dict.contains("/Filter")) return data
    val names = "/(FlateDecode|ASCIIHexDecode|ASCII85Decode|DCTDecode|JPXDecode|CCITTFaxDecode|RunLengthDecode|LZWDecode)".r
      .findAllMatchIn(filterSpec(dict)).map(_.group(1)).toSeq
    // /Filter present but NO recognized filter name parsed (abbreviated
    // names, /JBIG2Decode, /Crypt, a typo): fail CLOSED —
    // returning the raw encoded bytes here would let multi-KB
    // compressed/encrypted data (which contains "BT" often enough) flow
    // into the raw fallback scan as fake text, the exact failure
    // class the /U gate exists to stop.
    if (names.isEmpty) return Array.emptyByteArray
    val parms = decodeParmsOf(dict, names.length)
    names.zipWithIndex.foldLeft(data) { case (acc, (f, ix)) =>
      if (acc.isEmpty) acc
      else f match {
        // Flate/LZW honor /DecodeParms: PNG row
        // predictors (some generators predictor-compress OBJECT
        // streams; pre-1.5 archives carry predictor'd LZW) and TIFF
        // horizontal differencing decode; an UNREADABLE parm slot
        // (indirect ref) fails closed — it may hide a /Predictor, and
        // un-predicted rows would flow through as garbage text.
        case "FlateDecode" =>
          if (parms(ix) == OpaqueParms) Array.emptyByteArray
          else predictor(inflate(acc), parms(ix))
        case "LZWDecode" =>
          if (parms(ix) == OpaqueParms) Array.emptyByteArray
          else predictor(lzw(acc, earlyChangeOf(parms(ix))), parms(ix))
        case "RunLengthDecode" => runLength(acc)
        case "ASCIIHexDecode" => asciiHex(acc)
        case "ASCII85Decode" => ascii85(acc)
        case _ => Array.emptyByteArray // image/unsupported: no text inside
      }
    }
  }

  // ---------------------------------------- /DecodeParms + predictors

  private sealed trait ParmSlot
  private case object NoParms extends ParmSlot
  /** A slot whose parms exist but could not be read (an indirect
    * reference, or a shape this parser does not speak): Flate/LZW fail
    * closed on it rather than risk skipping a hidden /Predictor. */
  private case object OpaqueParms extends ParmSlot
  private final case class Parms(dict: String) extends ParmSlot

  /** Per-filter /DecodeParms aligned with the /Filter array (§7.4.1):
    * a lone dict binds to the first filter; an array carries one entry
    * per filter with `null` placeholders; a missing key (or a short
    * array's tail) is NoParms. The key is looked up on the top-level-
    * blanked text with a required delimiter, like /Encoding — parm
    * dicts are themselves nested dicts, so the value is read from the
    * ORIGINAL text at the matched offset. */
  private def decodeParmsOf(dict: String, n: Int): IndexedSeq[ParmSlot] = {
    val none = IndexedSeq.fill[ParmSlot](n)(NoParms)
    val tl = topLevel(dict)
    var i = -1
    var from = 0
    while (i < 0) {
      val c = tl.indexOf("/DecodeParms", from)
      if (c < 0) return none
      val after = c + 12
      if (after >= tl.length || " \t\r\n/<[(".contains(tl.charAt(after))) i = c
      else from = after
    }
    var j = i + 12
    while (j < dict.length && dict.charAt(j).isWhitespace) j += 1
    if (j + 1 < dict.length && dict.charAt(j) == '<' && dict.charAt(j + 1) == '<')
      dictEnd(dict, j) match {
        case Some(e) => (Parms(dict.substring(j, e)) +: none.tail).take(n)
        case None => IndexedSeq.fill[ParmSlot](n)(OpaqueParms)
      }
    else if (j < dict.length && dict.charAt(j) == '[') {
      val out = scala.collection.mutable.ArrayBuffer[ParmSlot]()
      var k = j + 1
      var done = false
      while (!done && k < dict.length && out.length < n) {
        val c = dict.charAt(k)
        if (c.isWhitespace) k += 1
        else if (c == ']') done = true
        else if (c == '<' && k + 1 < dict.length && dict.charAt(k + 1) == '<')
          dictEnd(dict, k) match {
            case Some(e) => out += Parms(dict.substring(k, e)); k = e
            case None => out += OpaqueParms; done = true
          }
        else if (dict.startsWith("null", k)) { out += NoParms; k += 4 }
        else RefRe.findPrefixMatchOf(
            dict.substring(k, math.min(dict.length, k + 24))) match {
          case Some(m) => out += OpaqueParms; k += m.end // indirect entry
          case None => out += OpaqueParms; done = true   // unreadable
        }
      }
      (out.toIndexedSeq ++ none).take(n)
    }
    else IndexedSeq.fill[ParmSlot](n)(OpaqueParms) // `12 0 R` etc.
  }

  private def earlyChangeOf(slot: ParmSlot): Int = slot match {
    case Parms(d) => intVal(d, "/EarlyChange").getOrElse(1)
    case _ => 1
  }

  /** §7.4.4.4 prediction pre-pass on a decompressed Flate/LZW stream:
    * /Predictor 1 (or absent) = identity, 2 = TIFF horizontal
    * differencing, 10..15 = the PNG row filters (the value only
    * signals "PNG"; each row's leading TAG byte picks None/Sub/Up/
    * Average/Paeth per the PNG spec §6). Honors /Columns, /Colors,
    * /BitsPerComponent. Out-of-spec parameters and unknown row tags
    * fail CLOSED; a truncated final row keeps the decoded prefix
    * (never-throws contract). */
  private def predictor(data: Array[Byte], slot: ParmSlot): Array[Byte] =
    slot match {
      case NoParms => data
      case OpaqueParms => Array.emptyByteArray
      case Parms(d) =>
        val pred = intVal(d, "/Predictor").getOrElse(1)
        if (pred <= 1) data
        else {
          val colors = intVal(d, "/Colors").getOrElse(1)
          val bpc = intVal(d, "/BitsPerComponent").getOrElse(8)
          val cols = intVal(d, "/Columns").getOrElse(1)
          // bounds: /Colors caps at 60 per the spec note; columns cap
          // keeps rowLen * 2 buffers sane on hostile input
          if (data.isEmpty || colors < 1 || colors > 60 ||
              cols < 1 || cols > (1 << 24) ||
              !(bpc == 1 || bpc == 2 || bpc == 4 || bpc == 8 || bpc == 16))
            Array.emptyByteArray
          else if (pred == 2) tiffPredictor(data, colors, bpc, cols)
          else if (pred >= 10 && pred <= 15) pngPredictor(data, colors, bpc, cols)
          else Array.emptyByteArray
        }
    }

  /** TIFF predictor 2: in-place horizontal byte differencing. Only the
    * 8-bit-component case is implemented — sub-byte and 16-bit TIFF
    * differencing exist for image rasters, which never reach this
    * (text-bearing) decode path; fail closed rather than mis-add. */
  private def tiffPredictor(data: Array[Byte], colors: Int, bpc: Int,
      cols: Int): Array[Byte] = {
    if (bpc != 8) return Array.emptyByteArray
    val rowLen = colors * cols
    val out = data.clone()
    var r = 0
    while (r < out.length) {
      val end = math.min(r + rowLen, out.length)
      var i = r + colors
      while (i < end) {
        out(i) = ((out(i) + out(i - colors)) & 0xff).toByte
        i += 1
      }
      r += rowLen
    }
    out
  }

  /** PNG row un-filtering (PNG spec §6 / filters 0-4): each input row
    * is a tag byte + rowLen filtered bytes; row 0's "previous row" is
    * all zeros. bpp = bytes per complete pixel (min 1), the left-
    * neighbor distance for Sub/Average/Paeth. */
  private def pngPredictor(data: Array[Byte], colors: Int, bpc: Int,
      cols: Int): Array[Byte] = {
    val rowLen = ((colors.toLong * bpc * cols + 7) / 8).toInt
    if (rowLen <= 0) return Array.emptyByteArray
    val bpp = math.max(1, (colors * bpc + 7) / 8)
    // Row buffers sized by what the input can actually FILL, not by
    // the dict's claim: a crafted /Columns (up to the 1<<24 sanity cap
    // above) requests a ~2 GB row while the filtered stream — already
    // MaxInflateBytes-bounded — holds a fraction of one, and an
    // OutOfMemoryError is an Error the never-throws catch cannot see.
    // Truncated-row semantics are unchanged: bytes past the data end
    // are never decoded or emitted (avail <= lim by construction).
    val lim = math.min(rowLen.toLong, data.length.toLong).toInt
    val out = new java.io.ByteArrayOutputStream(data.length)
    val prev = new Array[Byte](lim)
    val cur = new Array[Byte](lim)
    var pos = 0
    while (pos < data.length) {
      val tag = data(pos) & 0xff
      pos += 1
      val avail = math.min(rowLen, data.length - pos)
      java.util.Arrays.fill(cur, 0.toByte)
      if (avail > 0) System.arraycopy(data, pos, cur, 0, avail)
      pos += avail
      tag match {
        case 0 => // None
        case 1 => // Sub
          var i = bpp
          while (i < lim) {
            cur(i) = ((cur(i) + cur(i - bpp)) & 0xff).toByte; i += 1
          }
        case 2 => // Up
          var i = 0
          while (i < lim) {
            cur(i) = ((cur(i) + prev(i)) & 0xff).toByte; i += 1
          }
        case 3 => // Average
          var i = 0
          while (i < lim) {
            val left = if (i >= bpp) cur(i - bpp) & 0xff else 0
            cur(i) = ((cur(i) + ((left + (prev(i) & 0xff)) >> 1)) & 0xff).toByte
            i += 1
          }
        case 4 => // Paeth
          var i = 0
          while (i < lim) {
            val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
            val b = prev(i) & 0xff
            val c = if (i >= bpp) prev(i - bpp) & 0xff else 0
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pr = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            cur(i) = ((cur(i) + pr) & 0xff).toByte
            i += 1
          }
        case _ => return Array.emptyByteArray // corrupt row tag
      }
      out.write(cur, 0, avail)
      System.arraycopy(cur, 0, prev, 0, lim)
    }
    out.toByteArray
  }

  /** §7.4.4 LZWDecode, the TIFF/PDF variant: big-endian bit stream of
    * 9..12-bit codes; 256 = ClearTable, 257 = EOD, new table entries
    * from 258; the code width bumps one code EARLY when
    * /EarlyChange = 1 (the spec default and what nearly every producer
    * writes), or exactly at the table-full boundary when a
    * /DecodeParms declares /EarlyChange 0 (parm dicts are parsed for
    * the predictor pass, so the declared value is honored). Corrupt input (an
    * out-of-range code, no EOD) degrades to empty — the never-throws
    * contract. */
  private def lzw(data: Array[Byte], earlyChange: Int): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
      val table = new Array[Array[Byte]](4096)
      var i = 0
      while (i < 256) { table(i) = Array(i.toByte); i += 1 }
      var next = 258
      var width = 9
      var prev: Array[Byte] = null
      var acc = 0L
      var nbits = 0
      var pos = 0
      var done = false
      while (!done) {
        while (nbits < width && pos < data.length) {
          acc = (acc << 8) | (data(pos) & 0xff)
          nbits += 8
          pos += 1
        }
        if (nbits < width) done = true // ran out without EOD: keep output
        else {
          val code = ((acc >> (nbits - width)) & ((1L << width) - 1)).toInt
          nbits -= width
          if (code == 256) {
            var k = 258
            while (k < next) { table(k) = null; k += 1 }
            next = 258; width = 9; prev = null
          } else if (code == 257) done = true
          else {
            val entry: Array[Byte] =
              if (code < 4096 && table(code) != null) table(code)
              else if (prev != null && code == next)
                prev :+ prev(0) // the KwKwK case
              else return Array.emptyByteArray // corrupt stream
            if (out.size() + entry.length > MaxInflateBytes)
              return Array.emptyByteArray // LZW bomb
            out.write(entry)
            if (prev != null && next < 4096) {
              table(next) = prev :+ entry(0)
              next += 1
            }
            prev = entry
            // EarlyChange=1: widen when the NEXT code would not fit
            if (next >= (1 << width) - (if (earlyChange != 0) 1 else 0) &&
                width < 12) width += 1
          }
        }
      }
      out.toByteArray
    } catch { case _: Exception => Array.emptyByteArray }

  /** §7.4.5 RunLengthDecode: length byte L — 0..127 copies the next
    * L+1 bytes literally, 129..255 repeats the next byte 257-L times,
    * 128 = EOD. */
  private def runLength(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 2))
    var i = 0
    var done = false
    while (!done && i < data.length) {
      val l = data(i) & 0xff
      if (l == 128) done = true
      else if (l < 128) {
        val n = math.min(l + 1, data.length - i - 1)
        out.write(data, i + 1, n)
        i += l + 2
      } else {
        if (i + 1 < data.length) {
          val b = data(i + 1)
          var k = 0
          while (k < 257 - l) { out.write(b); k += 1 }
        }
        i += 2
      }
      if (out.size() > MaxInflateBytes) return Array.emptyByteArray
    }
    out.toByteArray
  }

  /** The /Filter value only — a name or an array of names; greedy
    * regexing the whole dict would pick up /DecodeParms keys. */
  private def filterSpec(dict: String): String = {
    val i = dict.indexOf("/Filter")
    if (i < 0) return ""
    var j = i + 7
    while (j < dict.length && dict.charAt(j).isWhitespace) j += 1
    if (j < dict.length && dict.charAt(j) == '[') {
      val e = dict.indexOf(']', j)
      dict.substring(j, if (e < 0) dict.length else e + 1)
    } else {
      // single name: up to the next delimiter
      var k = j + 1
      while (k < dict.length && !"/[]<> \t\r\n".contains(dict.charAt(k))) k += 1
      dict.substring(j, k)
    }
  }

  /** §7.4.2: hex pairs, whitespace ignored, `>` EOD, odd count pads 0. */
  private def asciiHex(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '>') done = true
      else {
        val v = Character.digit(c, 16)
        if (v >= 0) {
          if (hi < 0) hi = v
          else { out.write(hi * 16 + v); hi = -1 }
        }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi * 16)
    out.toByteArray
  }

  /** §7.4.3: base-85 groups of 5 chars → 4 bytes, `z` = four zero
    * bytes, `~>` EOD, partial final group keeps n-1 bytes. */
  private def ascii85(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    // optional <~ leader (Adobe tools emit it; the spec's EOD is ~>)
    if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
    def flush(count: Int): Unit = {
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < count) grp(k) else 84); k += 1 }
      val bytesOut = count - 1
      var shift = 24
      var b = 0
      while (b < bytesOut) {
        out.write(((v >> shift) & 0xff).toInt)
        shift -= 8; b += 1
      }
    }
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'
        n += 1
        if (n == 5) { flush(5); n = 0 }
      } // whitespace and anything else: skipped
      i += 1
    }
    if (n >= 2) flush(n)
    out.toByteArray
  }

  /** Decompression ceiling: real content/CMap streams are KBs to a few
    * MBs; a small deflate stream expanding past this is a flate bomb
    * and the whole stream is dropped (the ingest gate's
    * "best text or empty" contract covers resource exhaustion too). */
  private val MaxInflateBytes = 64 << 20

  private def inflate(data: Array[Byte]): Array[Byte] =
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) {
          if (out.size() + n > MaxInflateBytes) return Array.emptyByteArray
          out.write(buf, 0, n)
        }
        else if (n == 0 && inf.needsDictionary()) return Array.emptyByteArray
      }
      inf.end()
      out.toByteArray
    } catch { case _: Exception => Array.emptyByteArray }

  private def containsTextOps(c: Array[Byte]): Boolean =
    indexOf(c, "BT", 0) >= 0

  // ------------------------------------------- content-stream scanner

  /** One pass over a decoded content stream: collect shown strings in
    * operator order, breaking lines on Td/TD/T* and before '/" shows.
    * `fonts` binds resource names to ToUnicode CMaps: a `/Fx ... Tf`
    * switches the active decode; strings under a mapped font decode
    * code-by-code through the CMap, others stay Latin-1. */
  /** TJ kern (thousandths of text-space em) at or below which a gap is
    * a WORD BREAK, not letter kerning: TeX-family PDFs carry no space
    * glyphs at all — interword glue arrives as kerns of ~-250 to -350
    * milli-em, while letter-pair kerning stays above ~-100 (the
    * pdftotext/PyMuPDF word-assembly heuristic; validated on the two
    * real TeX/DocBook PDFs PdfTextSpec reads, which are unreadable
    * word-soup without it). */
  private val WordGapKern = -180

  private def contentText(c: Array[Byte], ctx: ExecCtx): String = {
    val fonts = ctx.fonts
    val s = new String(c, StandardCharsets.ISO_8859_1)
    val sb = new StringBuilder
    // pending = (operand, isKernSpace) seen since the last operator
    val pending = scala.collection.mutable.Buffer[(String, Boolean)]()
    var inText = false
    var lastName = "" // most recent /Name operand (the Tf font operand)
    var cur: Option[FontDec] = None
    var arrayDepth = 0
    var i = 0
    def newline(): Unit = {
      while (sb.nonEmpty && sb.last == ' ') sb.setLength(sb.length - 1)
      if (sb.nonEmpty && sb.last != '\n') sb.append('\n')
    }
    def show(): Unit = {
      pending.foreach {
        case (_, true) => // TJ word-gap kern
          if (sb.nonEmpty && sb.last != ' ' && sb.last != '\n') sb.append(' ')
        case (raw, _) =>
          cur match {
            case None => sb.append(raw)
            case Some(ByteDec(t)) =>
              // simple-font byte decode through the /Encoding table; a
              // code the encoding leaves undefined has no glyph and
              // decodes to nothing
              raw.foreach { ch =>
                val g = t(ch.toInt & 0xff)
                if (g != null) sb.append(g)
              }
            case Some(CMapDec(cm)) if cm.codeBytes <= 1 =>
              raw.foreach(ch => sb.append(
                cm.map.getOrElse(ch.toInt, ch.toString)))
            case Some(CMapDec(cm)) =>
              var k = 0
              while (k + 1 < raw.length) {
                val code = (raw.charAt(k) << 8) | raw.charAt(k + 1)
                sb.append(cm.map.getOrElse(code, "")) // unmapped CID: no
                // text mapping exists in the file — emitting the raw
                // bytes would be garbage, not text
                k += 2
              }
          }
      }
      pending.clear()
    }
    while (i < s.length) {
      val ch = s.charAt(i)
      ch match {
        case '(' =>
          val (str, ni) = literalString(s, i)
          pending += ((str, false)); i = ni
        case '<' if i + 1 < s.length && s.charAt(i + 1) != '<' =>
          val (str, ni) = hexString(s, i)
          pending += ((str, false)); i = ni
        case '<' => // dict-in-stream (inline image props): skip the <<
          i += 2
        case '/' =>
          var k = i + 1
          while (k < s.length && !" \t\r\n()<>[]/%".contains(s.charAt(k))) k += 1
          lastName = s.substring(i + 1, k)
          i = k
        case '%' => // comment to EOL (§7.2.4)
          while (i < s.length && s.charAt(i) != '\n') i += 1
        case '[' => arrayDepth += 1; i += 1
        case ']' => arrayDepth = math.max(0, arrayDepth - 1); i += 1
        case c0 if c0 == '-' || c0 == '+' || c0 == '.' || c0.isDigit =>
          var k = i + 1
          while (k < s.length && (s.charAt(k).isDigit || s.charAt(k) == '.')) k += 1
          // a sufficiently negative kern BETWEEN array strings is an
          // encoded word space (see WordGapKern); numbers anywhere
          // else are coordinates/operands and stay skipped
          if (arrayDepth > 0 && inText)
            try {
              if (s.substring(i, k).toDouble <= WordGapKern)
                pending += ((" ", true))
            } catch { case _: NumberFormatException => }
          i = k
        case c0 if c0.isLetter || c0 == '\'' || c0 == '"' || c0 == '*' =>
          val j = {
            var k = i
            while (k < s.length && !" \t\r\n()<>[]/%".contains(s.charAt(k))) k += 1
            k
          }
          s.substring(i, j) match {
            case "BT" => inText = true; pending.clear()
            case "ET" =>
              // block boundary breaks the line (generators
              // that emit one BT..ET per line — Chrome, Ghostscript —
              // would otherwise fuse whole pages into one token)
              inText = false; pending.clear(); newline()
            case "Tf" => // font switch is graphics state: outside BT too
              cur = fonts.get(lastName); pending.clear()
            case "Tj" if inText => show()
            case "TJ" if inText =>
              // array elements were pushed in order; kern numbers were
              // skipped by the tokenizer, so pending IS the text run
              show()
            case "'" | "\"" if inText =>
              newline(); show()
            case "Td" | "TD" | "T*" | "Tm" if inText =>
              // Tm re-positions the text matrix — generators that place
              // every line via Tm instead of Td break lines here
              newline(); pending.clear()
            case "Do" =>
              // Form XObject invocation (§8.10): body text routinely
              // lives here (headers/watermarks, template generators) —
              // recurse into the form's stream with ITS resources
              // (falling back to the caller's, the pre-PDF-1.2
              // compatibility rule), cycle-proof via the visited set
              // and a depth cap.
              pending.clear()
              for {
                num <- ctx.xobjects.get(lastName)
                if ctx.depth < 8 && !ctx.visited.contains(num)
                o <- ctx.objs.get(num)
                if o.data.isDefined &&
                  """/Subtype\s*/Form""".r.findFirstIn(o.dict).isDefined
              } {
                val inner = decodeStream(num, o, ctx.crypt)
                if (containsTextOps(inner)) {
                  val res = subDict(ctx.objs, o.dict, "/Resources")
                  val sub = contentText(inner, ctx.copy(
                    fonts = res
                      .map(fontsFromResources(ctx.objs, _, ctx.cmapCache,
                        ctx.crypt))
                      .filter(_.nonEmpty).getOrElse(ctx.fonts),
                    xobjects = res
                      .map(xobjectsFromResources(ctx.objs, _))
                      .filter(_.nonEmpty).getOrElse(ctx.xobjects),
                    visited = ctx.visited + num,
                    depth = ctx.depth + 1))
                  if (sub.nonEmpty) {
                    newline()
                    sb.append(sub)
                    newline()
                  }
                }
              }
            case "BI" =>
              // inline image (§8.9.7): raw binary follows ID until a
              // delimited EI — its bytes routinely contain '(' and
              // would open a phantom literal string that swallows the
              // rest of the stream's text operators
              val id = s.indexOf("ID", j)
              if (id < 0) { pending.clear(); i = s.length }
              else {
                var e = id + 2
                var found = -1
                while (found < 0 && e < s.length - 2) {
                  if (s.charAt(e).isWhitespace && s.charAt(e + 1) == 'E' &&
                      s.charAt(e + 2) == 'I' &&
                      (e + 3 >= s.length || !s.charAt(e + 3).isLetterOrDigit))
                    found = e + 3
                  e += 1
                }
                pending.clear()
                i = if (found < 0) s.length else found
              }
            case _ => pending.clear() // any other operator consumes operands
          }
          if (i < j) i = j
        case _ => i += 1 // numbers, delimiters, whitespace, [ ]
      }
    }
    sb.toString.trim
  }

  /** Literal string at s(i) == '(' — returns (decoded, index-after).
    * Handles nesting, the octal/char escapes, and backslash-newline
    * continuation (§7.3.4.2). */
  private def literalString(s: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var i = start + 1
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '\r' => // continuation: \CR or \CRLF
              i += 2; if (i < s.length && s.charAt(i) == '\n') i += 1
            case '\n' => i += 2
            case d if d >= '0' && d <= '7' =>
              var v = 0; var n = 0; i += 1
              while (n < 3 && i < s.length && s.charAt(i) >= '0' &&
                s.charAt(i) <= '7') { v = v * 8 + (s.charAt(i) - '0'); i += 1; n += 1 }
              sb.append((v & 0xff).toChar)
            case other => sb.append(other); i += 2 // §7.3.4.2: ignore the \
          }
        case '(' => depth += 1; sb.append('('); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          i += 1
        case c => sb.append(c); i += 1
      }
    }
    (sb.toString, i)
  }

  /** Hex string at s(i) == '<' — returns (decoded, index-after). Odd
    * digit count pads a trailing 0 (§7.3.4.3). */
  private def hexString(s: String, start: Int): (String, Int) = {
    var i = start + 1
    val hex = new StringBuilder
    while (i < s.length && s.charAt(i) != '>') {
      val c = s.charAt(i)
      if (c.isDigit || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))
        hex.append(c)
      i += 1
    }
    if (hex.length % 2 == 1) hex.append('0')
    val sb = new StringBuilder
    var j = 0
    while (j < hex.length) {
      sb.append(Integer.parseInt(hex.substring(j, j + 2), 16).toChar)
      j += 2
    }
    (sb.toString, i + 1)
  }
}
