"""PDF layout-parse leg (kernel/pdfkit.py + pipeline/pdf_ingest.py):
writer↔parser round trip, layout heuristics, error paths, and the Spark
operator emitting the interleaved-span input shape."""

import pytest

from smartreader_spark.kernel.pdfkit import PdfParseError, pdf_to_spans
from smartreader_spark.sources.pdf_corpus import make_pdf, pdf_corpus_rows


def test_round_trip_interleaving_and_layout():
    spans = pdf_to_spans(make_pdf(0))
    kinds = [s["kind"] for s in spans]
    # title block, merged 3-line paragraph, image AT ITS POINT OF USE,
    # closing paragraph, page-2 paragraph, page-3 Type0 paragraph,
    # page-4 filter-variant paragraph, page-5 Differences paragraph,
    # page-6 inherited-resources text/img/text
    assert kinds == ["text", "text", "img", "text", "text", "text", "text",
                     "text", "text", "img", "text"]
    assert spans[0]["text"].startswith("Document 0:")
    # the three Td/T* lines merge into ONE block with single spaces
    assert "(doc 0, line 1). " in spans[1]["text"]
    assert "(doc 0, line 3)." in spans[1]["text"]
    assert "\n" not in spans[1]["text"]
    assert spans[2]["media_ref"] == "pdfobj:8"
    # octal escape, parens escape, hex string all decoded
    assert "\xe9" in spans[3]["text"] and "(parens)" in spans[3]["text"]
    assert spans[4]["text"].endswith("Hex line of doc 0")
    # offsets are the span order
    assert [s["offset"] for s in spans] == list(range(11))


def test_type0_tounicode_cmap_decode():
    """The Type0/Identity-H page decodes byte-exactly through the
    Flate-compressed embedded ToUnicode CMap — all three mapping forms
    (dst-base bfrange, array bfrange, bfchar) and non-latin-1 chars."""
    from smartreader_spark.sources.pdf_corpus import _type0_assets

    for i in (0, 1, 5):
        expected, _, _ = _type0_assets(i)
        spans = pdf_to_spans(make_pdf(i))
        assert spans[5]["text"] == expected
        assert "✓" in spans[5]["text"] and "naïve" in spans[5]["text"]


def test_type0_unmapped_and_degenerate_cids():
    """Unmapped CIDs and dangling odd bytes show as U+FFFD (visible, not
    dropped); a Type0 font with NO ToUnicode yields all-replacement text
    rather than mojibake or a crash."""
    base = (
        b"%%PDF-1.4\n"
        b"1 0 obj << /Type /Page /Resources << /Font << /F2 10 0 R >> >> "
        b"/Contents 2 0 R >> endobj\n"
        b"10 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H "
        b"%s >> endobj\n"
        b"12 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        b"2 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
    )
    cmap = (b"begincmap\n1 beginbfchar\n<0001> <0041>\nendbfchar\nendcmap")
    # <0001> mapped to 'A'; <0002> unmapped; trailing odd byte 0x03
    content = b"BT /F2 12 Tf 72 720 Td <0001000203> Tj ET"
    pdf = base % (b"/ToUnicode 12 0 R", len(cmap), cmap, len(content), content)
    spans = pdf_to_spans(pdf)
    assert len(spans) == 1
    assert spans[0]["text"] == "A��"
    # no ToUnicode at all → every CID is replacement text
    pdf2 = base % (b"", len(cmap), cmap, len(content), content)
    spans2 = pdf_to_spans(pdf2)
    assert spans2[0]["text"] == "���"


def test_flate_and_tj_kerning_variant():
    # odd docs: page-1 stream is FlateDecode + line 1 shown via TJ with a
    # -400 kern that must come back as a word gap
    spans = pdf_to_spans(make_pdf(1))
    assert [s["kind"] for s in spans] == [
        "text", "text", "img", "text", "text", "text", "text",
        "text", "text", "img", "text"
    ]
    assert spans[1]["text"].startswith("Boilerplate removal")


def test_determinism_and_corpus():
    rows = pdf_corpus_rows(4)
    assert [r[0] for r in rows] == [100000, 100001, 100002, 100003]
    assert rows[2][1] == make_pdf(2)
    # every doc parses to the same 11-span shape — REGARDLESS of its
    # physical assembly (classic / objstm / rc4-encrypted)
    for _, blob in rows:
        assert len(pdf_to_spans(blob)) == 11


def test_error_paths():
    with pytest.raises(PdfParseError):
        pdf_to_spans(b"not a pdf at all")
    with pytest.raises(PdfParseError):
        pdf_to_spans(b"%PDF-1.4\njunk with no objects")
    # corrupt deflate body: the stream is skipped, never a crash
    blob = bytearray(make_pdf(1))
    i = blob.find(b"/FlateDecode")
    s = blob.find(b"stream\n", i) + len(b"stream\n")
    blob[s : s + 8] = b"\x00" * 8
    spans = pdf_to_spans(bytes(blob))
    assert all(s["kind"] in ("text", "img") for s in spans)


def test_spark_pdf_ingest(spark):
    from smartreader_spark.pipeline.pdf_ingest import pdf_to_span_table

    df = spark.createDataFrame(pdf_corpus_rows(6), "doc_id long, pdf binary")
    out = pdf_to_span_table(df, num_partitions=2)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 6
    assert all(r.error is None for r in rows.values())
    assert all(len(r.spans) == 11 for r in rows.values())
    r0 = rows[100000]
    assert r0.spans[2].kind == "img" and r0.spans[2].media_ref == "pdfobj:8"
    assert r0.spans[0].text.startswith("Document 0:")
    # the operator output IS the input-table shape: the HTML extraction
    # pipeline's reassembly + downstream ops accept it directly
    assert [f.name for f in out.schema["spans"].dataType.elementType.fields] == [
        "kind", "text", "media_ref", "offset"
    ]
    # error taxonomy (pipeline/pdf_ingest.py): container-level failure
    # vs per-page degradation are distinct PERMANENT classes the resume
    # ledger can skip; both degrade to rows, never task failures
    from smartreader_spark.pipeline.pdf_ingest import is_permanent_error

    degraded = bytearray(make_pdf(1))  # corrupt page 1's Flate stream
    i = degraded.find(b"/FlateDecode")
    s = degraded.find(b"stream\n", i) + len(b"stream\n")
    degraded[s : s + 8] = b"\x00" * 8
    bad = spark.createDataFrame(
        [(1, bytearray(b"nope")), (2, degraded)], "doc_id long, pdf binary"
    )
    out2 = pdf_to_span_table(bad).withColumn("permanent", is_permanent_error())
    rows2 = {r.doc_id: r for r in out2.collect()}
    assert rows2[1].error.startswith("PdfParseError:") and rows2[1].spans == []
    assert rows2[2].error.startswith("PdfDegraded:")
    assert "page 0" in rows2[2].error
    assert len(rows2[2].spans) > 0  # surviving pages still extracted
    assert rows2[1].permanent and rows2[2].permanent


def test_string_trailing_backslash_and_cr_tail_stream():
    """ADVICE r3 hardening: (1) a ( ) string ending in a lone backslash at
    end-of-data must not escape as a bare ValueError (b'' is 'in' any bytes
    literal, so the octal branch would call int(b'', 8)); (2) a Flate
    stream whose compressed payload ends in 0x0D must be sliced by /Length
    — the \\r?\\nendstream regex delimiter swallows that byte and kills
    decompression for ~1/256 of streams."""
    import zlib

    content = b"BT /F1 12 Tf 10 700 Td (abc\\"
    pdf = (
        b"%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n"
        b"2 0 obj << /Length " + str(len(content)).encode() + b" >> stream\n"
        + content + b"\nendstream endobj\n"
    )
    spans = pdf_to_spans(pdf)  # must not raise anything but PdfParseError
    assert isinstance(spans, list)

    # the zlib trailer's last byte is adler32's s1 = (1 + byte-sum) & 0xff;
    # pad with '!' (33, odd → coprime with 256) to sweep every residue and
    # deterministically land a 0x0D-final compressed stream
    comp = None
    for pad in range(256):
        raw = b"BT /F1 12 Tf 10 700 Td (cr tail " + b"!" * pad + b") Tj ET"
        c = zlib.compress(raw)
        if c.endswith(b"\r"):
            comp = c
            break
    assert comp is not None, "no CR-tail deflate found in 256 tries"
    body = (
        b"%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n"
        b"2 0 obj << /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >> stream\n" + comp + b"\nendstream endobj\n"
    )
    spans = pdf_to_spans(body)
    assert any(
        s["kind"] == "text" and s["text"].startswith("cr tail") for s in spans
    ), spans


def test_pdfkit_fuzz_never_crashes():
    """Malformed containers/content streams must yield PdfParseError or a
    (possibly empty) span list — never any other exception: at scale one
    pathological blob must not kill a task (pdf_ingest also guards)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=300))
    def inner(blob):
        for payload in (blob, b"%PDF-1.4\n" + blob):
            try:
                spans = pdf_to_spans(payload)
            except PdfParseError:
                continue
            assert isinstance(spans, list)

    inner()


def test_pdfkit_fuzz_structured_chunks():
    """Fuzz with PDF-shaped fragments so object/stream/content machinery
    actually executes (pure-random bytes rarely reach it)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    chunks = st.lists(
        st.sampled_from([
            b"1 0 obj", b"endobj", b"<< /Type /Page /Contents 2 0 R >>",
            b"<< /Type /Pages >>", b"stream\n", b"\nendstream",
            b"BT", b"ET", b"(text)", b"(esc \\351 \\9 \\( )", b"<48656c",
            b"Tj", b"TJ", b"'", b"Td", b"TD", b"Tm", b"T*", b"Tf", b"Do",
            b"[", b"]", b"1 2", b"/F1", b"/Im1", b"-400", b"<<", b">>",
            b"/Filter /FlateDecode", b"2 0 R", b"%PDF-1.4",
            b"/Subtype /Type0", b"/Encoding /Identity-H",
            b"/ToUnicode 12 0 R", b"beginbfchar <0001> <0041> endbfchar",
            b"beginbfrange <0030> <0039> <0030> endbfrange", b"/F2",
            b"<0001000203>", b"/Length 4",
            # filter machinery (r5): specs, parms, and encoded payloads so
            # the new decoders inherit the no-crash invariant
            b"/Filter /LZWDecode", b"/Filter /ASCII85Decode",
            b"/Filter /ASCIIHexDecode", b"/Filter /RunLengthDecode",
            b"/Filter [/ASCII85Decode /FlateDecode]",
            b"/DecodeParms << /Predictor 12 /Columns 4 >>",
            b"/DecodeParms [null << /Predictor 2 >>]",
            b"/DecodeParms << /Predictor 15 /Columns 0 >>",
            b"z~>", b"<~87cUR~>", b"s8W-!~>", b"48656c6c6f>",
            b"\x02abc\x81d\x80", b"\x80\x0b\x60\x50\x22\x0c\x0c\x85\x01",
            b"/Length 10 0 R",
            # page tree / inline image / encryption machinery (r5)
            b"/Type /Catalog", b"/Pages 2 0 R", b"/Kids [3 0 R 4 0 R]",
            b"/Kids [2 0 R]", b"/Count 2",
            b"BI /W 2 /H 2 ID", b"\xff\x00(\x29 EI", b"EI",
            b"trailer << /Root 1 0 R >>",
        ]),
        max_size=25,
    )

    @settings(max_examples=200, deadline=None)
    @given(chunks)
    def inner(parts):
        payload = b"%PDF-1.4\n" + b" ".join(parts)
        try:
            spans = pdf_to_spans(payload)
        except PdfParseError:
            return
        assert isinstance(spans, list)

    inner()


def test_page_tree_kids_order():
    """Page ORDER follows the catalog's /Kids walk (§7.7.3.2), not object
    numbering: a tree listing pages in reverse object order must emit the
    spans reversed; a page missing from a broken tree is appended, not
    dropped."""
    def page(num, cnum, text):
        content = b"BT /F1 12 Tf 72 720 Td (" + text + b") Tj ET"
        return (
            b"%d 0 obj << /Type /Page /Parent 2 0 R /Contents %d 0 R >> endobj\n"
            % (num, cnum)
            + b"%d 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
            % (cnum, len(content), content)
        )

    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >> endobj\n"
        + page(3, 4, b"second by tree")
        + page(5, 6, b"first by tree")
    )
    spans = pdf_to_spans(pdf)
    assert [s["text"] for s in spans] == ["first by tree", "second by tree"]

    # page 7 exists but the tree doesn't reference it → appended last
    pdf2 = pdf + page(7, 8, b"orphan page")
    spans2 = pdf_to_spans(pdf2)
    assert [s["text"] for s in spans2] == [
        "first by tree", "second by tree", "orphan page"
    ]


def test_encrypted_pdf_rejected_permanently():
    """A trailer /Encrypt means enciphered streams/strings — must raise
    PdfParseError (permanent: the ledger never retries) instead of
    emitting mojibake spans."""
    content = b"BT (x) Tj ET"
    pdf = b"%PDF-1.4\n" + (
        b"1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n"
        b"2 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    ) + b"trailer << /Size 3 /Root 1 0 R /Encrypt 9 0 R >>\nstartxref\n0\n"
    with pytest.raises(PdfParseError, match="encrypted"):
        pdf_to_spans(pdf)


def test_inline_image_binary_skipped():
    """BI…ID…EI inline-image payloads are skipped to the delimited EI —
    raw image bytes (which can contain parens, operators, anything) must
    not masquerade as text ops."""
    payload = b"\x28\x29 Tj (fake text) \xff\x00"
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj "
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID " + payload + b" EI (after) Tj ET"
    )
    pdf = b"%PDF-1.4\n" + (
        b"1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n"
        b"2 0 obj << /Length %d >> stream\n%s\nendstream endobj\n"
        % (len(content), content)
    )
    spans = pdf_to_spans(pdf)
    text = " ".join(s["text"] for s in spans if s["kind"] == "text")
    assert "before" in text and "after" in text
    assert "fake text" not in text


def test_filter_pages_all_variants():
    """Page 4's content stream is encoded with a per-doc filter variant;
    all six (AHx, A85, RLE, LZW, Flate+PNG-predictor, A85∘Flate cascade)
    must decode byte-exactly — no degradation diagnostics."""
    from smartreader_spark.sources.pdf_corpus import filter_variant

    for i in range(8):
        diags: list[str] = []
        spans = pdf_to_spans(make_pdf(i), diagnostics=diags)
        assert not diags, (i, diags)
        assert spans[6]["text"].startswith(
            f"Filter page of document {i} decoded via {filter_variant(i)}"
        ), (i, spans[6])


def test_lzw_spec_example_vector():
    """The published example of PDF 32000-1:2008 §7.4.4.2: the string
    45 45 45 45 45 65 45 45 45 66 encodes (9-bit codes, EarlyChange
    irrelevant at this size) to 80 0B 60 50 22 0C 0C 85 01."""
    from smartreader_spark.kernel.pdfkit import _lzw_decode
    from smartreader_spark.sources.pdf_corpus import _lzw_encode

    raw = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    enc = bytes([0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01])
    assert _lzw_decode(enc) == raw
    assert _lzw_encode(raw) == enc


def test_lzw_width_growth_round_trip():
    """Push the dictionary past the 9→10→11-bit boundaries (≥1023
    entries) so the EarlyChange width rule is exercised on both sides,
    including the KwKwK case (repetitive data)."""
    from smartreader_spark.kernel.pdfkit import _lzw_decode
    from smartreader_spark.sources.pdf_corpus import _lzw_encode

    payloads = [
        bytes((k * 7 + (k >> 3)) % 256 for k in range(20000)),  # high entropy-ish
        b"abcab" * 4000,                                         # KwKwK-heavy
        bytes(5000),                                             # constant
    ]
    for raw in payloads:
        assert _lzw_decode(_lzw_encode(raw)) == raw


def test_filter_codec_round_trips():
    """Differential round trip encoder↔decoder for every filter (the
    implementations are deliberately independent)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smartreader_spark.kernel.pdfkit import (
        _ascii85_decode,
        _asciihex_decode,
        _lzw_decode,
        _png_unpredict,
        _rle_decode,
    )
    from smartreader_spark.sources.pdf_corpus import (
        _PNG_COLUMNS,
        _ascii85_encode,
        _asciihex_encode,
        _lzw_encode,
        _png_predict,
        _rle_encode,
    )

    pairs = [
        (_asciihex_encode, _asciihex_decode),
        (_ascii85_encode, _ascii85_decode),
        (_rle_encode, _rle_decode),
        (_lzw_encode, _lzw_decode),
    ]

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=600))
    def inner(raw):
        for enc, dec in pairs:
            assert dec(enc(raw)) == raw
        # PNG predictor pads to whole rows with newlines
        unp = _png_unpredict(_png_predict(raw), _PNG_COLUMNS, 1, 8)
        assert unp.rstrip(b"\n") == raw.rstrip(b"\n") or unp[: len(raw)] == raw

    inner()


def test_tiff_predictor_2():
    from smartreader_spark.kernel.pdfkit import _tiff_unpredict

    # 2 rows, 4 columns, 1 color: horizontal deltas
    raw = bytes([10, 20, 30, 40, 5, 5, 5, 5])
    pred = bytes([10, 10, 10, 10, 5, 0, 0, 0])
    assert _tiff_unpredict(pred, 4, 1, 8) == raw


def test_length_regex_indirect_ref_no_backtrack():
    """ADVICE r4: '/Length 10 0 R' (indirect) must NOT match with a
    backtracked capture of '1' — the digit run is anchored."""
    from smartreader_spark.kernel.pdfkit import _LENGTH_RE

    assert _LENGTH_RE.search(b"<< /Length 10 0 R >>") is None
    assert _LENGTH_RE.search(b"<< /Length 107 0 R >>") is None
    m = _LENGTH_RE.search(b"<< /Length 42 >>")
    assert m and m.group(1) == b"42"


def test_filter_decoders_fuzz_total():
    """Every filter decoder over arbitrary bytes either returns bytes or
    raises ValueError — never another exception, never a hang (the
    _decoded_stream wrapper maps any failure to the degraded path)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smartreader_spark.kernel.pdfkit import (
        _ascii85_decode,
        _asciihex_decode,
        _lzw_decode,
        _png_unpredict,
        _rle_decode,
        _tiff_unpredict,
    )

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=400))
    def inner(blob):
        for dec in (_asciihex_decode, _ascii85_decode, _rle_decode, _lzw_decode):
            try:
                out = dec(blob)
                assert isinstance(out, bytes)
            except ValueError:
                pass
        for fn, args in ((_png_unpredict, (4, 1, 8)), (_tiff_unpredict, (4, 1, 8))):
            try:
                assert isinstance(fn(blob, *args), bytes)
            except ValueError:
                pass

    inner()


def test_parse_cmap_fuzz_bounded_and_total():
    """_parse_cmap must accept arbitrary bytes without raising and must
    bound crafted ranges (a <0000> <ffffffff> bfrange may not allocate
    unbounded memory)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from smartreader_spark.kernel.pdfkit import _CMAP_MAX_ENTRIES, _parse_cmap

    crafted = (b"beginbfrange\n<0000> <ffffffff> <0041>\nendbfrange")
    m = _parse_cmap(crafted)
    assert len(m) <= _CMAP_MAX_ENTRIES + 1
    assert m[0] == "A"

    chunks = st.lists(
        st.sampled_from([
            b"beginbfchar", b"endbfchar", b"beginbfrange", b"endbfrange",
            b"<0001>", b"<0041>", b"<ffff>", b"<>", b"<0042 0043>",
            b"[", b"]", b"<0,1>", b"\n", b"<zz>", b"<0xyz41>",
        ]),
        max_size=12,
    )

    @settings(max_examples=150, deadline=None)
    @given(chunks)
    def inner(parts):
        out = _parse_cmap(b" ".join(parts))
        assert isinstance(out, dict)
        assert len(out) <= _CMAP_MAX_ENTRIES + 1

    inner()


# ---------------------------------------------------------------------------
# round 6: compressed cross-references (/ObjStm + xref streams), RC4
# standard-security-handler decryption, /Encoding /Differences, and
# inherited page attributes
# ---------------------------------------------------------------------------


def test_assembly_variants_twin_equivalence():
    """The physical assembly — classic table-xref, ObjStm + xref stream,
    RC4-encrypted either way — must never change the extracted spans:
    every variant of the same doc index is span-identical."""
    from smartreader_spark.sources.pdf_corpus import assembly_variant

    assert assembly_variant(0) == "classic"
    assert assembly_variant(1) == "objstm"
    assert assembly_variant(3) == "classic+rc4-40"
    assert assembly_variant(7) == "objstm+rc4-128"
    assert assembly_variant(4) == "classic+aesv2"
    assert assembly_variant(6) == "objstm+aes256"
    for i in (0, 3, 7):
        base = pdf_to_spans(make_pdf(i))
        for variant in ("classic", "objstm", "classic+rc4-40",
                        "objstm+rc4-128", "objstm+rc4-40",
                        "classic+rc4-128", "classic+aesv2",
                        "objstm+aesv2", "classic+aes256",
                        "objstm+aes256"):
            assert pdf_to_spans(make_pdf(i, variant)) == base, (i, variant)


def test_objstm_docs_hide_dicts_from_linear_scan():
    """The ObjStm variant really does store page/font dicts compressed:
    the raw bytes contain NO top-level page object, so a parser without
    /ObjStm expansion could not see the page tree (the pre-r6 failure
    mode this round closes)."""
    blob = make_pdf(1)
    assert b"/Type /ObjStm" in blob
    assert b"/Type /XRef" in blob
    assert b"trailer" not in blob          # 1.5+: xref dict IS the trailer
    # page dicts live only inside the compressed container
    from smartreader_spark.kernel.pdfkit import _scan_objects
    top = _scan_objects(blob)
    assert not any(b"/Type /Page\b" in o.dict_src
                   or b"/Type /Page " in o.dict_src for o in top.values())
    # ... yet the parser sees all six pages through the expansion
    spans = pdf_to_spans(blob)
    assert sum(1 for s in spans if s["kind"] == "img") == 2


def test_xref_stream_w_fields_and_index():
    """Unit: a /Type /XRef stream with W [1 3 2] + Predictor-12 rows
    decodes to the right typed entries (type-1 offsets, type-2 members)."""
    from smartreader_spark.kernel.pdfkit import (
        _scan_objects,
        _xref_stream_entries,
    )

    blob = make_pdf(5)  # objstm variant
    objs = _scan_objects(blob)
    xref = next(o for o in objs.values() if b"/Type /XRef" in o.dict_src)
    entries = _xref_stream_entries(xref)
    assert entries[0][0] == 0                      # free head
    types = {t for t, _, _ in entries.values()}
    assert types == {0, 1, 2}
    # type-2 rows point into the ObjStm container with member indexes
    objstm = next(o for o in objs.values() if b"/Type /ObjStm" in o.dict_src)
    t2 = [(f2, f3) for t, f2, f3 in entries.values() if t == 2]
    assert t2 and all(f2 == objstm.num for f2, _ in t2)
    # type-1 offsets really are object starts
    for num, (t, off, _g) in entries.items():
        if t == 1 and num in objs:
            assert blob[off : off + 12].startswith(b"%d 0 obj" % num)


def test_rc4_real_password_rejected():
    """An /Encrypt whose /U the empty-password key cannot reproduce (i.e.
    a REAL user password) must stay a permanent PdfParseError — never
    mojibake spans."""
    import re

    pdf = make_pdf(3)  # classic+rc4-40
    m = re.search(rb"/U <([0-9a-f]+)>", pdf)
    bad = pdf.replace(m.group(0), b"/U <" + b"00" * 32 + b">")
    with pytest.raises(PdfParseError, match="password required"):
        pdf_to_spans(bad)
    # an unknown future handler version stays rejected, not garbled
    bad2 = pdf.replace(b"/V 1 /R 2", b"/V 6 /R 7")
    with pytest.raises(PdfParseError, match="unsupported handler"):
        pdf_to_spans(bad2)


def test_encrypted_xref_stream_doc_detected():
    """ADVICE r5: an /Encrypt that lives in an xref-STREAM dict (no
    classic trailer anywhere, ref placed early in the file) is found via
    the trailer-source walk — doc 7 is exactly that shape."""
    blob = make_pdf(7)
    assert b"trailer" not in blob
    assert b"/Encrypt" in blob
    spans = pdf_to_spans(blob)   # decrypts via empty-password handler
    assert any("Document 7" in (s["text"] or "") for s in spans)
    # and the RC4 ciphertext is real: the plaintext twin differs on disk
    assert blob != make_pdf(7, "objstm")


def test_differences_encoding_glyphs():
    """/Encoding /Differences remaps beat latin-1: named glyphs (AGL
    subset), uniXXXX / uXXXXXX names, and an unknown name that must show
    as U+FFFD (visible failure, not silent mojibake)."""
    from smartreader_spark.sources.pdf_corpus import DIFF_DECODED

    for i in (0, 1, 3):   # classic, objstm, encrypted assemblies
        spans = pdf_to_spans(make_pdf(i))
        page5 = spans[7]["text"]
        assert page5 == (
            f"Differences page of document {i}: {DIFF_DECODED}"
        ), (i, page5)
    # é € “ prove named-glyph decode; Д proves uniXXXX; 😀 proves
    # astral uXXXXXX; � proves the unknown-name posture
    assert DIFF_DECODED == "é€“ �Д\U0001f600"


def test_inherited_page_resources():
    """A page with NO /Resources inherits fonts AND XObjects from its
    /Pages ancestor (§7.7.3.4): page 6 extracts text and its image."""
    spans = pdf_to_spans(make_pdf(0))
    assert spans[8]["text"].startswith("Inherited resources page")
    assert spans[9]["kind"] == "img" and spans[9]["media_ref"] == "pdfobj:8"
    assert spans[10]["text"] == "Text below the inherited image."


def test_objstm_incremental_update_preference():
    """An xref stream's type-2 entry marks the COMPRESSED copy as
    current: a stale top-level object with the same number loses to the
    ObjStm member (incremental-update semantics)."""
    blob = bytearray(make_pdf(1))
    # plant a stale top-level page 3 BEFORE the real file content — the
    # linear scan finds it, but the xref stream's type-2 row for object 3
    # must make the compressed (real) copy win
    stale = (b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 98 0 R >> "
             b"endobj\n"
             b"98 0 obj << /Length 24 >> stream\n"
             b"BT (stale shadow) Tj ET\nendstream endobj\n")
    head = b"%PDF-1.5\n"
    planted = head + stale + bytes(blob[len(head):])
    spans = pdf_to_spans(planted)
    text = " ".join(s["text"] or "" for s in spans)
    assert "stale shadow" not in text
    assert "Document 1" in text


def test_rc4_vector():
    """Known-answer RC4 check (public test vector: key 'Key', plaintext
    'Plaintext' → BBF316E8D940AF0AD3) so both independent RC4s are pinned
    to the real cipher, not merely to each other."""
    from smartreader_spark.kernel.pdfkit import _rc4
    from smartreader_spark.sources.pdf_corpus import _rc4_w

    key, pt = b"Key", b"Plaintext"
    ct = bytes.fromhex("bbf316e8d940af0ad3")
    assert _rc4(key, pt) == ct
    assert _rc4_w(key, pt) == ct
    assert _rc4(key, ct) == pt


def test_aes_fips197_vectors():
    """Both independent AES implementations (kernel/cryptokit.py inverse
    +forward, pdf_corpus writer forward-only) are pinned to the FIPS-197
    Appendix C known-answer vectors for all three key sizes — real
    cipher, not merely mutual agreement."""
    from smartreader_spark.kernel.cryptokit import (
        aes_decrypt_block,
        aes_encrypt_block,
        aes_cbc_decrypt,
        aes_cbc_encrypt,
    )
    from smartreader_spark.sources.pdf_corpus import _aes_enc_block_w

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vectors = [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ]
    for kh, ch in vectors:
        key, ct = bytes.fromhex(kh), bytes.fromhex(ch)
        assert aes_encrypt_block(key, pt) == ct
        assert _aes_enc_block_w(key, pt) == ct
        assert aes_decrypt_block(key, ct) == pt
    iv, data = bytes(range(16)), bytes(range(128, 176))
    key = bytes.fromhex(vectors[2][0])
    assert aes_cbc_decrypt(key, iv, aes_cbc_encrypt(key, iv, data)) == data


def test_hash_2b_reader_writer_differential():
    """ISO 32000-2 Algorithm 2.B: the reader's and writer's independent
    implementations (built on the two independent AES cores) agree on
    key-salt and udata-bearing (owner-twin) inputs."""
    from smartreader_spark.kernel.pdfkit import _hash_2b
    from smartreader_spark.sources.pdf_corpus import _hash_2b_w

    for salt, udata in [
        (b"\x00" * 8, b""),
        (b"saltsalt", b""),
        (bytes(range(8)), b"u" * 48),
    ]:
        h1, h2 = _hash_2b(b"", salt, udata), _hash_2b_w(b"", salt, udata)
        assert h1 == h2 and len(h1) == 32


def test_aes_encrypted_twin_equivalence():
    """AESV2 (V4/R4) and AESV3 (V5/R6) corpus docs decrypt to spans
    byte-identical to their plaintext twins, and the ciphertext really
    differs on disk (the encryption isn't a no-op)."""
    for i, plain_variant in ((4, "classic"), (6, "objstm")):
        enc_blob = make_pdf(i)
        plain_blob = make_pdf(i, plain_variant)
        assert enc_blob != plain_blob
        assert b"/Encrypt" in enc_blob
        assert pdf_to_spans(enc_blob) == pdf_to_spans(plain_blob), i
    # AESV3 over ObjStm: the compressed container itself was encrypted,
    # so the raw bytes expose neither page dicts nor the lorem text
    blob6 = make_pdf(6)
    assert b"/Type /Page " not in blob6 and b"Document 6" not in blob6


def test_aes_native_pure_differential():
    """The native (OpenSSL) CBC fast path and the FIPS-pinned pure path
    agree byte-for-byte both directions across key sizes and lengths —
    the gate that lets production route bulk AES through OpenSSL while
    the spec anchor stays the pure core."""
    from smartreader_spark.kernel import cryptokit as ck

    if not ck._HAVE_NATIVE:
        pytest.skip("cryptography not available; pure path is the only path")
    rnd = __import__("random").Random(0xAE5)
    for ksz in (16, 24, 32):
        for nblk in (1, 3, 17):
            key = bytes(rnd.randrange(256) for _ in range(ksz))
            iv = bytes(rnd.randrange(256) for _ in range(16))
            data = bytes(rnd.randrange(256) for _ in range(16 * nblk))
            ct = ck.aes_cbc_encrypt(key, iv, data)
            assert ct == ck.aes_cbc_encrypt_pure(key, iv, data)
            assert ck.aes_cbc_decrypt(key, iv, ct) == data
            assert ck.aes_cbc_decrypt_pure(key, iv, ct) == data


def test_aes_pure_fallback_twin_equivalence(monkeypatch):
    """With the native path forced off on BOTH sides (reader cryptokit
    and writer corpus), an AES-256 ObjStm doc still decrypts to its
    plaintext twin — the fallback is production-equivalent, and the
    writer's independent forward core round-trips against the reader's
    inverse core end to end."""
    from smartreader_spark.kernel import cryptokit as ck
    from smartreader_spark.kernel import pdfkit
    from smartreader_spark.sources import pdf_corpus as pc

    monkeypatch.setattr(ck, "_HAVE_NATIVE", False)
    monkeypatch.setattr(pc, "_HAVE_NATIVE_W", False)
    pdfkit._hash_2b.cache_clear()
    pc._encryption_assets_aes256.cache_clear()
    try:
        enc_blob = pc.make_pdf(6)
        assert b"/Encrypt" in enc_blob
        assert pdf_to_spans(enc_blob) == pdf_to_spans(pc.make_pdf(6, "objstm"))
    finally:
        pdfkit._hash_2b.cache_clear()
        pc._encryption_assets_aes256.cache_clear()


def test_aes_real_password_rejected():
    """A real user password on either AES mode (i.e. a /U the empty
    password cannot validate) stays a permanent PdfParseError; an
    unknown V4 crypt filter method is likewise rejected, never
    garbled."""
    import re

    for i, ulen in ((4, 32 + 16), (6, 48)):
        blob = make_pdf(i)
        m = re.search(rb"/U <([0-9a-f]+)>", blob)
        bad = blob[: m.start(1)] + b"00" * ulen + blob[m.end(1) :]
        with pytest.raises(PdfParseError, match="password required"):
            pdf_to_spans(bad)
    blob = make_pdf(4)
    bad = blob.replace(b"/CFM /AESV2", b"/CFM /AESV9")
    with pytest.raises(PdfParseError, match="crypt filter"):
        pdf_to_spans(bad)
