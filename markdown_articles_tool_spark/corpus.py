"""Deterministic synthetic corpus + modeled fetch (FIXTURES.md §1-2).

Everything is a pure function of the document index / URL (seeded by
sha256), so the corpus can be generated distributed (``spark.range``
+ ``mapInPandas``) at any scale and the sequential oracle sees exactly
the same bytes without materializing an assets table.

Document classes mirror the reference's pytest fixtures (SURVEY.md §5,
FIXTURES.md §1): important-links, article (fenced code + cyrillic),
duplicates (two URLs → identical bytes), mime-incorrect, reference-
style/HTML-block, and no-image documents.  Image hosts are skewed —
one hot host takes ~30% of links — to exercise the salted fetch stage.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone
from typing import List, Optional, Tuple

from .oracle import Asset

N_HOSTS = 20
HOT_HOST = 'imghot.example'
_LANGS = ('en', 'ru', 'de')


def _h(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], 'big')


def host_for(i: int, j: int) -> str:
    """Skewed host pick: ~30% of image links land on the hot host."""
    r = _h(f'host:{i}:{j}') % 100
    if r < 30:
        return HOT_HOST
    return f'img{r % N_HOSTS}.example'


def doc_url(i: int) -> str:
    return f'https://site{_h(f"site:{i}") % 7}.example/articles/a{i:08d}/doc{i}.md'


_IMPORTANT_TPL = """Important link to remember: ![](https://www.google.com/)
![](https://{h0}/gallery/p{i}_a.png)
![](https://dead.example/missing/p{i}.jpg)

Scaled: ![](https://{h1}/gallery/p{i}_b.png =300x)
![Valid URL](https://{h0}/u/{i}?s=80&v=4 =300x)
![Resizing](https://{h1}/gallery/p{i}_c.jpg =1000x0010)

# Resize

![](./pic/pic{i}_50.png =100x20)

# You can skip the HEIGHT

![](./pic/pic{i}s.png =250x)

# And Width

![](./pic/pic{i}s.png =x250)
"""

_ARTICLE_TPL = """# Статья {i}

Привет! Это длинный текст со [ссылкой](https://example.org/page{i}) и
картинкой ![кот](img/lolcat{i}.jpg) внутри.

```python
print("![not-an-image](x{i}.png)")
```

Ещё абзац с `кодом ![тоже](нет.png)` и всё.
"""

_DUPLICATES_TPL = """![](https://{h0}/dup{g}/lenna1_{i}.jpg)
![](https://{h1}/dup{g}/lenna2_{i}.jpg)
"""

_MIME_TPL = """![](https://{h0}/c/filters:no_upscale()?valid=false&imageUrl=x{i}.jpg%3Fsource%3D1)
![](https://{h1}/c/filters:no_upscale()?valid=false&imageUrl=y{i}.jpg%3Fsource%3D2)
![](https://{h0}/u/{i}?s=80)
"""

_REFSTYLE_TPL = """![first][ref{i}] then ![inline](https://{h0}/ref/inl{i}.png)

<img src="https://{h1}/ref/blk{i}.gif" alt="block">

[ref{i}]: https://{h0}/ref/def{i}.png
"""

_NOIMG_TPL = """# Plain document {i}

No images here, only [links](https://example.org/{i}) and text.
Zeile {i}. The quick brown fox jumps over the lazy dog.
"""

_CLASS_TPLS = ('important', 'article', 'duplicates', 'mime', 'refstyle', 'noimg')


_FILLER_SENTENCES = (
    'The quick brown fox jumps over the lazy dog near the riverbank.',
    'Zwischen den Zeilen verbirgt sich oft die eigentliche Geschichte.',
    'Данные конвейеры обрабатывают веб-страницы в промышленных масштабах.',
    'Distributed systems trade latency for throughput in subtle ways.',
    'A `code span ![not](an-image.png)` must never be extracted here.',
    'Columnar formats let scans skip everything the query never reads.',
)


def doc_text(i: int, fat: bool = False) -> str:
    cls = _CLASS_TPLS[i % len(_CLASS_TPLS)]
    h0, h1 = host_for(i, 0), host_for(i, 1)
    if cls == 'important':
        base = _IMPORTANT_TPL.format(i=i, h0=h0, h1=h1)
    elif cls == 'article':
        base = _ARTICLE_TPL.format(i=i)
    elif cls == 'duplicates':
        # every 4th duplicate-doc shares its group with a neighbor →
        # cross-document identical bytes
        g = i if i % 4 else i - 6
        base = _DUPLICATES_TPL.format(i=i, g=g, h0=h0, h1=h1)
    elif cls == 'mime':
        base = _MIME_TPL.format(i=i, h0=h0, h1=h1)
    elif cls == 'refstyle':
        base = _REFSTYLE_TPL.format(i=i, h0=h0, h1=h1)
    else:
        base = _NOIMG_TPL.format(i=i)
    if not fat:
        return base
    # "fat" variant: realistic CC-page weight (several KB of prose,
    # ~10 extra image links, fenced-code noise) for benchmarking —
    # correctness fixtures use the small variant
    parts = [base]
    n_par = 14 + _h(f'fat:{i}') % 10
    for p in range(n_par):
        s0 = _FILLER_SENTENCES[(i + p) % len(_FILLER_SENTENCES)]
        s1 = _FILLER_SENTENCES[(i * 7 + p * 3) % len(_FILLER_SENTENCES)]
        parts.append(f'## Section {p} of article {i}\n\n{s0} {s1} '
                     f'See [ref {p}](https://example.org/r/{i}/{p}) for context. {s0}')
        if p % 2 == 0:
            parts.append(f'![fig {p}](https://{host_for(i, 20 + p)}/fat/{i % 50000}/img{p}.png)')
        if p % 5 == 4:
            parts.append(f'```\nsample(code_block={p}) ![never](x{p}.png)\n```')
    return '\n\n'.join(parts) + '\n'


def doc_html(i: int) -> bytes:
    """HTML body column: a CC-style page with realistic boilerplate —
    head script/style, nav/footer link farms, cookie-banner aside, a
    link-dense related-posts div — around a main article of substantive
    paragraphs, plus 0-5 <img> tags incl. src-less and valueless-src
    edge cases (transformers/html/transformer.py:22-27).  Exercises the
    main-content extraction operators: the boilerplate must be
    stripped, the article kept."""
    n = _h(f'himg:{i}') % 6
    imgs = '\n'.join(
        f'<img src="https://{host_for(i, 10 + k)}/himg/h{i}_{k}.png" alt="k{k}">' for k in range(n)
    )
    nav = ' '.join(f'<a href="/cat/{j}">Category {j}</a>' for j in range(1 + _h(f'nav:{i}') % 8))
    n_par = 2 + _h(f'hpar:{i}') % 4
    paras = []
    for p in range(n_par):
        s0 = _FILLER_SENTENCES[(i + p) % len(_FILLER_SENTENCES)]
        s1 = _FILLER_SENTENCES[(i * 5 + p * 3) % len(_FILLER_SENTENCES)]
        inline = f' Compare <a href="/see/{i}/{p}">this note</a> for details.' if p % 2 else ''
        paras.append(f'<p>{s0}{inline} {s1}</p>')
    related = ' '.join(
        f'<a href="/post/{i}-{j}">Related post number {j}</a>' for j in range(4)
    )
    # r5: head metadata rotation (page_meta operator input) — meta
    # description / canonical link (incl. multi-token rel + padded
    # href, which the spec strips but does NOT resolve) / og:title
    # with mixed-case property / robots directives with soup spacing
    head_meta = ''
    if i % 3 != 2:
        head_meta += f'<meta name="description" content="Summary &amp; abstract of doc {i}.">'
    if i % 4 == 0:
        head_meta += f'<link rel="canonical" href="https://canonical.example/c/{i}">'
    elif i % 4 == 1:
        head_meta += f'<link rel="alternate CANONICAL" href=" /canon/{i} ">'
    if i % 5 == 0:
        head_meta += f'<meta property="OG:Title" content="OG · Doc {i}">'
    robots = {0: 'noindex', 1: ' NOINDEX , nofollow ', 2: 'nofollow'}.get(i % 7)
    if robots is not None:
        head_meta += f'<meta name="robots" content="{robots}">'
    # r5: outlink soup rotation (page_outlinks / host link-graph input):
    # a cross-site ring + cdn edges give the host graph structure; the
    # rest exercises every resolver/filter branch — parent-relative,
    # dot segments, protocol-relative, query-only, fragment-only,
    # mailto/javascript schemes, mixed-case absolute, empty/missing
    # href, nested-<a> implicit close
    ring = (i + 1) % 7
    soup_links = [
        f'<a href="https://site{ring}.example/articles/hub/">site ring {ring}</a>',
        f'<a href="//cdn{i % 3}.example/lib/app.js">cdn asset</a>',
    ]
    if i % 2 == 0:
        soup_links.append(f'<a href="../refs/r{i}.html">parent ref {i}</a>')
    if i % 3 == 1:
        soup_links.append('<a href="mailto:editor@example.org">mail us</a>')
    if i % 4 == 1:
        soup_links.append(f'<a href="?page=2&amp;ref={i}">next page</a>')
    if i % 4 == 3:
        soup_links.append('<a href="#comments">jump</a>')
    if i % 5 == 3:
        soup_links.append(f'<a href="./sub/./x/../p{i}.html">dotty path</a>')
    if i % 5 == 1:
        soup_links.append('<a href="JavaScript:void(0)">button</a>')
    if i % 6 == 5:
        soup_links.append(f'<a href="HTTPS://Mixed.Example/Path{i}#frag">mixed case</a>')
    if i % 6 == 2:
        # an absolute link to ANOTHER corpus document (the decade
        # leader): exercises the frontier's already-crawled anti-join
        # (and a self-link when i%10==0, a same-host graph self-loop)
        soup_links.append(f'<a href="{doc_url(i - i % 10)}">doc {i - i % 10}</a>')
    if i % 7 == 2:
        soup_links.append(f'<a href="">empty</a> <a name="x{i}">no href</a>')
    if i % 9 == 7:
        soup_links.append(f'<a href="/s1/{i}">one <a href="/s2/{i}">two</a></a>')
    linkpara = '<p>More: ' + ' '.join(soup_links) + '</p>'
    # r5: rotate data tables through the article (html_tables operator
    # input; the cells also flow through main-content as td/th blocks).
    # i%5==2 gets a header + data rows table with soup edges (implicit
    # </td>/</tr> closes, entity, empty cell); i%10==9 nests a table
    # inside a cell (nested text must NOT leak into the parent cell).
    table = ''
    if i % 5 == 2:
        n_rows = 2 + _h(f'tbl:{i}') % 3
        body = ''.join(
            f'<tr><td>metric row {r} of document {i} pass<td>{(i * 7 + r) % 1000}'
            f'<td>{"" if r == 0 else f"note &amp; detail {r}"}'
            for r in range(n_rows)
        )
        table = (f'<table class="data"><tr><th>Metric</th><th>Value</th><th>Note</th>'
                 f'{body}</table>')
    elif i % 10 == 9:
        table = (f'<table><tr><td>outer cell {i} <table><tr><td>inner {i}</td>'
                 f'<td>{i % 97}</td></tr></table> trailing</td></tr></table>')
    return (
        f'<html><head><title>Doc {i}</title>{head_meta}<script>var t={i};track(t);</script>'
        f'<style>.x{{color:red}}</style></head>\n'
        f'<body><nav>{nav}</nav>\n'
        f'<header><a href="/">Home</a> &gt; <a href="/a">Articles</a></header>\n'
        f'<aside>We use cookies. <a href="/consent">Accept all cookies now</a></aside>\n'
        f'<article><h1>Doc {i}</h1>\n<img alt="no-src">\n<img src>\n{imgs}\n'
        + '\n'.join(paras)
        + f'\n{linkpara}'
        + f'\n{table}'
        + f'\n<p>text {i}</p></article>\n'
        f'<div class="related">{related}</div>\n'
        f'<footer>{nav} <a href="/terms">Terms</a> <a href="/privacy">Privacy</a></footer>'
        f'</body></html>'
    ).encode()


def doc_row(i: int, fat: bool = False) -> Tuple[str, datetime, bytes, str, str]:
    """One row of the input_hint table (url, warc_ts, html, text, lang)."""
    ts = datetime.fromtimestamp(1_600_000_000 + i, tz=timezone.utc)
    return (doc_url(i), ts, doc_html(i), doc_text(i, fat), _LANGS[i % 3])


# ---------------------------------------------------------------- fetch model


def model_asset(fetch_url: str) -> Optional[Asset]:
    """Modeled HTTP GET: deterministic bytes keyed by URL.

    * URLs on ``dead.example`` or containing ``/missing/`` → None
      (connection error);
    * URLs with a ``/dup<g>/`` segment share content within the group
      (the lenna1/lenna2 pattern, tests/test_string_tools.py:16-17);
    * everything else: 512-4096 pseudo-random bytes seeded by the URL.
    """
    if 'dead.example' in fetch_url or '/missing/' in fetch_url:
        return None
    key = fetch_url
    lo = fetch_url.find('/dup')
    if lo >= 0:
        hi = fetch_url.find('/', lo + 1)
        if hi > lo:
            key = fetch_url[lo:hi]  # content keyed by the dup group only
    seed = hashlib.sha256(key.encode()).digest()
    size = 512 + _h(f'size:{key}') % 3584
    reps = size // len(seed) + 1
    content = (seed * reps)[:size]
    ext = fetch_url.rsplit('.', 1)[-1].lower() if '.' in fetch_url.rsplit('/', 1)[-1] else ''
    ctype = {
        'png': 'image/png', 'jpg': 'image/jpeg', 'jpeg': 'image/jpeg', 'gif': 'image/gif',
    }.get(ext[:4].rstrip('?'), 'image/png')
    return Asset(content=content, content_type=ctype, status=200)


class ModelAssetStore:
    """dict-like view over ``model_asset`` for the sequential oracle."""

    def get(self, key: str) -> Optional[Asset]:
        return model_asset(key)

    def __contains__(self, key: str) -> bool:
        return model_asset(key) is not None


def docs_list(n: int, start: int = 0) -> List[Tuple[str, str]]:
    """(url, text) pairs for the oracle."""
    return [(doc_url(i), doc_text(i)) for i in range(start, start + n)]


def lzw_encode(data: bytes) -> bytes:
    """Minimal TIFF/PDF LZWDecode-compatible encoder (EarlyChange=1,
    MSB-first 9-12 bit codes, leading clear, trailing EOD) — used to
    synthesize /LZWDecode streams for the PDF extraction tier; the two
    independent decoders (core/pdftext.lzw_decode and the oracle twin)
    must both round-trip its output.  Emits a clear code when the
    table approaches the 12-bit ceiling."""
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    def fresh():
        return {bytes([b]): b for b in range(256)}

    emit(256)
    table = fresh()
    next_code = 258
    w = b''
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        # the decoder's table trails this one by one entry (it builds
        # an entry only once it has a previous code), so the width bump
        # fires at next_code == 2^width — one later than the decoder's
        # len+1 >= 2^width early-change check, which is the same moment
        if next_code >= (1 << width):
            if width < 12:
                width += 1
            else:
                # table ceiling: clear (the decoder made the same final
                # append and resets on this code)
                emit(256)
                table = fresh()
                next_code = 258
                width = 9
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def doc_pdf(i: int) -> bytes:
    """Deterministic minimal PDF for document ``i``: 1-3 content
    streams (alternating raw / FlateDecode-compressed), each with a
    ``(s) Tj`` text object, a ``[...] TJ`` array with escaped parens,
    and (r4) hex-string show operators — ``<hex> Tj`` plus a
    hex-and-literal mixed ``[...] TJ`` — the operator subset
    core/pdftext.py parses."""
    import zlib as _zlib

    n_streams = 1 + _h(f'pdfs:{i}') % 3
    body = b'%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n'
    for s in range(n_streams):
        s0 = _FILLER_SENTENCES[(i + s) % len(_FILLER_SENTENCES)]
        s1 = _FILLER_SENTENCES[(i * 3 + s * 7) % len(_FILLER_SENTENCES)]
        s2 = _FILLER_SENTENCES[(i * 11 + s * 5) % len(_FILLER_SENTENCES)]
        hex2 = s2[:24].encode('latin-1', errors='replace').hex()
        if (i + s) % 3 == 0:
            hex2 = hex2.upper()
        if (i + s) % 4 == 0 and hex2:
            hex2 = hex2[:-1]            # odd digit count → zero-padded
        content = (
            f'BT /F1 12 Tf 72 720 Td ({s0}) Tj ET\n'
            f'BT 72 700 Td [ ({s1[:40]}) -250 (tail \\({i}-{s}\\)) ] TJ ET\n'
            f'BT 72 680 Td <{hex2}> Tj '
            f'[ <2d6d69782d> -200 (lit {i}-{s}) ] TJ ET\n'
        ).encode('latin-1', errors='replace')  # PDF simple strings are 8-bit
        # filter rotation: raw / Flate / raw / LZW (the /Filter marker
        # drives the extractor's dict-window detection)
        filt = ''
        if (i + s) % 4 == 1:
            content = _zlib.compress(content)
        elif (i + s) % 4 == 3:
            content = lzw_encode(content)
            filt = ' /Filter /LZWDecode'
        body += (
            f'{4 + s} 0 obj\n<< /Length {len(content)}{filt} >>\nstream\n'.encode('latin-1')
            + content + b'\nendstream\nendobj\n'
        )
    if i % 2 == 0:
        # ToUnicode tier (r4): a subsetted-font-style stream whose hex
        # show strings only become text through the font's CMap —
        # 2-byte UTF-16BE identity bfrange (even i//2) or a 1-byte
        # bfchar+bfrange table (odd i//2); CMap stream Flate-compressed
        # on every 3rd doc
        s9 = _FILLER_SENTENCES[(i * 13) % len(_FILLER_SENTENCES)]
        if (i // 2) % 2 == 0:
            cmap = b'1 beginbfrange <0000> <FFFF> <0000> endbfrange'
            shown = f'uni {i}: {s9}'.encode('utf-16-be').hex()
        else:
            cmap = (b'3 beginbfchar\n<61> <03B1>\n<65> <03B5>\n<6F> <2134>\n'
                    b'endbfchar\n1 beginbfrange <41> <5A> <0041> endbfrange')
            shown = f'map {i}: {s9}'.encode('latin-1', errors='replace').hex()
        if i % 3 == 0:
            cmap = _zlib.compress(cmap)
        o20 = b'<< /Type /Page /Resources << /Font << /FU 21 0 R >> >> >>'
        o21 = b'<< /Type /Font /Subtype /Type0 /ToUnicode 22 0 R >>'
        if i % 6 == 4:
            # ObjStm tier (r5, PDF 1.5 layout): the page + font dicts
            # live INSIDE a compressed object stream — the dominant
            # modern layout, where the raw `N G obj` scan can't see
            # the /Font dict or the /ToUnicode ref; Flate-compressed
            # payload on every other rotation, raw otherwise
            header = f'20 0 21 {len(o20) + 1}'.encode('latin-1')
            first = len(header) + 1
            payload = header + b'\n' + o20 + b'\n' + o21
            filt = b''
            if (i // 6) % 2 == 0:
                payload = _zlib.compress(payload)
                filt = b' /Filter /FlateDecode'
            body += (
                b'19 0 obj\n<< /Type /ObjStm /N 2 /First '
                + str(first).encode('latin-1') + filt
                + f' /Length {len(payload)} >>\nstream\n'.encode('latin-1')
                + payload + b'\nendstream\nendobj\n'
            )
        else:
            body += (
                b'20 0 obj\n' + o20 + b'\nendobj\n'
                b'21 0 obj\n' + o21 + b'\nendobj\n'
            )
        body += (
            f'22 0 obj\n<< /Length {len(cmap)} >>\nstream\n'.encode('latin-1')
            + cmap + b'\nendstream\nendobj\n'
            b'23 0 obj\n<< >>\nstream\n'
            + f'BT /FU 11 Tf <{shown}> Tj ET\n'.encode('latin-1')
            + b'\nendstream\nendobj\n'
        )
    if i % 4 == 1:
        # /Encoding fallback tier (r5): a font WITHOUT ToUnicode whose
        # 1-byte show strings re-encode through WinAnsi / MacRoman /
        # Differences tables (variant rotates with the doc index)
        variant = (i // 4) % 4
        if variant == 0:
            font = b'<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >>'
            extra = b''
        elif variant == 1:
            font = b'<< /Type /Font /Subtype /Type1 /Encoding /MacRomanEncoding >>'
            extra = b''
        elif variant == 2:
            font = (b'<< /Type /Font /Encoding << /BaseEncoding /WinAnsiEncoding'
                    b' /Differences [ 97 /alpha 98 /eacute /notaname 101 /Euro ] >> >>')
            extra = b''
        else:
            font = b'<< /Type /Font /Encoding 27 0 R >>'
            extra = (b'27 0 obj\n<< /BaseEncoding /MacRomanEncoding'
                     b' /Differences [ 233 /uni0394 128 /bullet ] >>\nendobj\n')
        s8 = _FILLER_SENTENCES[(i * 17) % len(_FILLER_SENTENCES)][:30]
        body += (
            b'25 0 obj\n<< /Type /Page /Resources << /Font << /FE 26 0 R >> >> >>\nendobj\n'
            b'26 0 obj\n' + font + b'\nendobj\n' + extra +
            b'28 0 obj\n<< >>\nstream\n'
            + f'BT /FE 10 Tf (enc {i}: {s8} \\351\\200abe) Tj ET\n'.encode('latin-1')
            + b'\nendstream\nendobj\n'
        )
    return body + b'%%EOF\n'


PDFS_SCHEMA = 'url string, pdf binary'


def pdfs_df(spark, n: int, partitions: int | None = None):
    """Distributed generation of a (url, pdf) table of synthetic PDFs."""
    from .operators.udfs import map_rows

    def gen(i):
        yield doc_url(i), doc_pdf(i)

    rng = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return map_rows(rng, ['id'], gen, PDFS_SCHEMA)


# ---------------------------------------------------------------- warc corpus
#
# Synthetic Common-Crawl-style ``.warc.gz`` blobs for the WARC source
# tier (core/warc.py / sources/warc.py).  Pure function of the doc
# index, like everything above, so the sequential oracle rebuilds the
# exact bytes.  The rotations cover every spec branch: per-record gzip
# members (the CC layout) vs whole-file gzip vs plain bytes; chunked
# transfer-encoding with a chunk extension; charset declarations
# (plain, quoted, bogus→utf-8 fallback, absent content-type); angle-
# bracketed WARC-Target-URI; 301/404 statuses; duplicate first-wins
# HTTP headers; interleaved warcinfo/request/metadata records (type-
# filtered out); a Content-Length-less malformed record (resync); and
# a truncated tail record on every 5th file (dropped, parse ends).

DOCS_PER_WARC = 5

_WARC_DATE_FMT = '%Y-%m-%dT%H:%M:%SZ'


def _warc_record(rec_type: str, target: str, date: str, payload: bytes,
                 content_type: str = 'application/http; msgtype=response',
                 extra: str = '') -> bytes:
    head = (
        f'WARC/1.0\r\n'
        f'WARC-Type: {rec_type}\r\n'
        f'WARC-Date: {date}\r\n'
        f'WARC-Record-ID: <urn:uuid:{hashlib.sha256((rec_type + target + date).encode()).hexdigest()[:32]}>\r\n'
    )
    if target:
        head += f'WARC-Target-URI: {target}\r\n'
    head += extra
    head += f'Content-Type: {content_type}\r\nContent-Length: {len(payload)}\r\n\r\n'
    return head.encode('latin-1') + payload + b'\r\n\r\n'


def _chunk(body: bytes, size: int = 512) -> bytes:
    out = []
    for k, off in enumerate(range(0, len(body), size)):
        piece = body[off:off + size]
        ext = b';x=1' if k == 0 else b''
        out.append(b'%x' % len(piece) + ext + b'\r\n' + piece + b'\r\n')
    out.append(b'0\r\n\r\n')
    return b''.join(out)


def doc_http_response(i: int) -> bytes:
    """Raw HTTP response bytes for doc i (the WARC response payload)."""
    location = None
    if i % 7 == 5:
        status, body = '404 Not Found', f'<html><body>Not found: doc {i}</body></html>'.encode()
    elif i % 7 == 2:
        status, body = '301 Moved Permanently', f'Moved: doc {i}\n'.encode()
        # Location rotation v=(i//7)%5 — the redirect-graph shapes a
        # chain resolver must handle: v0 one absolute hop to a 200;
        # v1 hop onto ANOTHER redirect (v2 at i+7); v2 a RELATIVE
        # target (dangling — never crawled), with every second v2
        # omitting Location entirely (a dead redirect, legal HTTP);
        # v3 a self-loop; v4 a hop INTO v3's self-loop.
        v = (i // 7) % 5
        if v == 0:
            location = doc_url(i + 1)
        elif v == 1:
            location = doc_url(i + 7)
        elif v == 2:
            location = None if (i // 7) % 2 == 1 else f'../hop/next{i}.html'
        elif v == 3:
            location = doc_url(i)
        else:
            location = doc_url(i - 7)
    else:
        status, body = '200 OK', doc_html(i)
    if i % 11 == 7:
        ctype = None  # no Content-Type at all -> mime '', charset utf-8
    elif i % 6 == 0:
        ctype = 'text/html; charset=ISO-8859-1'  # mojibake-decodes, deterministically
    elif i % 6 == 3:
        ctype = 'text/html; charset="UTF-8"'
    elif i % 6 == 5:
        ctype = 'text/html; charset=x-no-such-charset'  # registry miss -> utf-8
    else:
        ctype = 'text/html; charset=UTF-8'
    head = ['HTTP/1.1 ' + status, 'Server: graft-synth/1.0',
            'Date: Sun, 13 Sep 2020 12:26:40 GMT']
    if location is not None:
        head.append('Location: ' + location)
    if ctype is not None:
        head.append('Content-Type: ' + ctype)
    if i % 9 == 4:
        head.append('Content-Type: text/plain')  # duplicate: first wins
    # content coding first (i%10==3 gzip, i%12==7 zlib-deflate,
    # i%12==11 raw-deflate broken-server), then the transfer coding
    # wraps it — a chunked+gzip overlap exists (i ≡ 13 mod 20)
    if status.startswith('200'):
        import gzip as _gz
        import zlib as _zl

        if i % 10 == 3:
            head.append('Content-Encoding: gzip')
            body = _gz.compress(body, mtime=0)
        elif i % 12 == 7:
            head.append('Content-Encoding: deflate')
            body = _zl.compress(body)
        elif i % 12 == 11:
            head.append('Content-Encoding: deflate')
            body = _zl.compress(body)[2:-4]  # raw deflate, no zlib wrapper
    chunked = i % 4 == 1 and status.startswith('200')
    if chunked:
        head.append('Transfer-Encoding: chunked')
        body = _chunk(body)
    else:
        head.append(f'Content-Length: {len(body)}')
    return '\r\n'.join(head).encode('latin-1') + b'\r\n\r\n' + body


def warc_doc_date(i: int) -> str:
    return datetime.fromtimestamp(1_600_000_000 + i, tz=timezone.utc).strftime(_WARC_DATE_FMT)


def _doc_warc_members(i: int) -> List[bytes]:
    """The WARC records contributed by doc i, in file order."""
    url = doc_url(i)
    date = warc_doc_date(i)
    target = f'<{url}>' if i % 5 == 0 else url
    members: List[bytes] = []
    if i % 3 != 1:  # a request record precedes most responses (CC layout)
        req = f'GET / HTTP/1.1\r\nHost: x{i}.example\r\n\r\n'.encode()
        members.append(_warc_record('request', target, date, req,
                                    'application/http; msgtype=request'))
    if i % 13 == 4:  # malformed record (no Content-Length): reader resyncs
        members.append(
            f'WARC/1.0\r\nWARC-Type: response\r\n'
            f'WARC-Target-URI: https://broken.example/x{i}\r\n\r\n'.encode()
        )
    members.append(_warc_record('response', target, date, doc_http_response(i)))
    if i % 8 == 6:
        members.append(_warc_record('metadata', _messy_target(i, url), date,
                                    b'via: synthetic\r\n'))
    if i % 7 == 5 and i >= 5:
        members.append(_revisit_member(i, date))
    return members


def _revisit_member(i: int, date: str) -> bytes:
    """A ``WARC-Type: revisit`` record (the CC URL-agnostic-dedup
    record type): the crawler refetched a URL at doc i's time and the
    payload matched an earlier capture, so only the HTTP headers are
    stored plus WARC-Profile / WARC-Refers-To-* pointers to the
    original.  Rotations: profile identical-payload-digest (headers
    payload ``200 OK``) vs server-not-modified (``304``), an
    angle-bracketed target spelling (i % 10 == 5), and an
    UNRESOLVABLE refers-to ((i // 7) % 3 == 2 — the original lives
    outside this crawl) so resolution's left-join miss path is
    exercised."""
    if (i // 7) % 3 == 2:
        rurl = f'https://gone.example/x{i}'
        rdate = date
    else:
        j = i - 5
        rurl = doc_url(j)
        rdate = warc_doc_date(j)
    not_modified = (i // 7) % 2 == 1
    profile = (
        'http://netpreserve.org/warc/1.0/revisit/server-not-modified'
        if not_modified else
        'http://netpreserve.org/warc/1.0/revisit/identical-payload-digest'
    )
    payload = (
        b'HTTP/1.1 304 Not Modified\r\nServer: graft-synth/1.0\r\n\r\n'
        if not_modified else
        b'HTTP/1.1 200 OK\r\nServer: graft-synth/1.0\r\n'
        b'Content-Type: text/html; charset=UTF-8\r\n\r\n'
    )
    target = f'<{rurl}>' if i % 10 == 5 else rurl
    extra = (
        f'WARC-Profile: {profile}\r\n'
        f'WARC-Refers-To-Target-URI: {rurl}\r\n'
        f'WARC-Refers-To-Date: {rdate}\r\n'
    )
    return _warc_record('revisit', target, date, payload, extra=extra)


def _messy_target(i: int, url: str) -> str:
    """SURT-trap spellings for the metadata records ONLY (the
    response-based oracles never see metadata URLs, so this exercises
    the CDX surt column without rippling into warc_responses/WET/WAT):
    uppercase + default port + www, leading-zero port, trailing-dot
    host + userinfo + empty query segment, fragment-holding-a-'?',
    IPv4 host + unsorted query, and a non-hierarchical urn (identity
    fallback)."""
    host = url.split('/')[2]
    path = '/' + url.split('/', 3)[3]
    return [
        f'HTTPS://WWW.{host.upper()}:443{path.upper()}?b={i}&a=1#frag',
        f'https://{host}:0{8080 + i % 7}{path}',
        f'http://user:pw@{host}.{path}?z={i}&&y=',
        f'https://{host}{path}#frag?not=query',
        f'http://192.168.{i % 256}.{(i * 7) % 256}:8080/cgi?z=1&y=&x={i}',
        f'urn:uuid:0000-{i:08d}',
    ][(i // 8) % 6]


def warc_file_name(file_idx: int) -> str:
    ext = '.warc' if file_idx % 3 == 2 else '.warc.gz'
    return f'crawl/{file_idx:05d}{ext}'


def warc_file_bytes(file_idx: int, n_docs: int, docs_per_file: int = DOCS_PER_WARC) -> bytes:
    """One synthetic WARC file: warcinfo + the member records of docs
    [file_idx*dpf, ...), compression rotated by file_idx % 3 (record-
    per-member gzip / whole-file gzip / plain), a truncated tail
    record appended on file_idx % 5 == 3 (both readers drop it)."""
    import gzip

    lo = file_idx * docs_per_file
    hi = min(n_docs, lo + docs_per_file)
    info = _warc_record(
        'warcinfo', '', warc_doc_date(lo),
        b'software: graft-synth/1.0\r\nformat: WARC File Format 1.0\r\n',
        'application/warc-fields')
    members = [info]
    for i in range(lo, hi):
        members.extend(_doc_warc_members(i))
    if file_idx % 5 == 3:  # truncated tail: header claims more bytes than remain
        resp = doc_http_response(lo)
        cut = _warc_record('response', f'https://cut.example/t{file_idx}',
                           warc_doc_date(lo), resp)
        # drop the trailer and the back half of the payload; the WARC
        # header block stays intact so this exercises exactly the
        # truncated-payload branch (drop record, end parse)
        members.append(cut[:len(cut) - 4 - max(32, len(resp) // 2)])
    mode = file_idx % 3
    if mode == 0:  # CC layout: each record its own gzip member (seekable)
        return b''.join(gzip.compress(m, mtime=0) for m in members)
    if mode == 1:
        return gzip.compress(b''.join(members), mtime=0)
    return b''.join(members)


WARCS_SCHEMA = 'file_name string, data binary'


def warc_files_df(spark, n: int, partitions: int | None = None,
                  docs_per_file: int = DOCS_PER_WARC):
    """Distributed generation of the (file_name, data) WARC-blob table
    — the same shape ``spark.read.format('binaryFile')`` yields off a
    crawl bucket (path, content)."""
    from .operators.udfs import map_rows

    n_files = (n + docs_per_file - 1) // docs_per_file

    def gen(f):
        yield warc_file_name(f), warc_file_bytes(f, n, docs_per_file)

    rng = spark.range(0, n_files,
                      numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return map_rows(rng, ['id'], gen, WARCS_SCHEMA)


# ---------------------------------------------------------------- robots corpus

# every host the outlink resolver can emit for the pages corpus (the
# site ring, the cdn edges, canonical/mixed-case absolute targets)
ROBOTS_HOSTS = tuple(sorted(
    [f'site{k}.example' for k in range(7)]
    + [f'cdn{k}.example' for k in range(3)]
    + ['canonical.example', 'mixed.example']
))

ROBOTS_SCHEMA = 'host string, robots_txt string'


def robots_txt_for(host: str) -> str:
    """Deterministic robots.txt per host — the rotation exercises every
    parse/match branch: empty file, CRLF block-all, wildcard + $-anchor
    + allow/disallow tie + empty-value rules + orphan rules before any
    group, multi-UA groups + sitemap, field/agent case soup + unknown
    fields, equal-length tie (allow wins), anchored allow vs broad
    disallow, and an agent-specific group with only an empty disallow.
    Rotation is by host INDEX (not hash) so all 8 shapes exist in the
    12-host table."""
    r = ROBOTS_HOSTS.index(host) % 8 if host in ROBOTS_HOSTS else _h(f'robots:{host}') % 8
    if r == 0:
        return ''
    if r == 1:
        return 'User-agent: *\r\nDisallow: /\r\nCrawl-delay: 10\r\n'
    if r == 2:
        return (
            f'# policy for {host}\n'
            'Disallow: /orphan-rule-ignored\n'
            'User-agent: *\n'
            'Disallow: /cat/\n'
            'Allow: /cat/1\n'
            'Disallow: /see/*/1$\n'
            'Disallow: /post/*3\n'
            'Allow:\n'
            'Crawl-delay: 4\n'
        )
    if r == 3:
        return (
            'User-agent: graftbot\n'
            'User-agent: otherbot\n'
            'Disallow: /refs/\n'
            'Allow: /refs/r1\n'
            'Crawl-delay: 20\n'
            f'Sitemap: https://{host}/sitemap.xml\n'
            'User-Agent: *\n'
            'Disallow: /articles/hub/\n'
            'Crawl-delay: 5\n'
        )
    if r == 4:
        return (
            'USER-AGENT: GraftBot   # canonical bot\n'
            'DisAllow: /s1/\n'
            'Noindex: /x\n'
            f'Allow: /s1/{host[0]}\n'
            'Crawl-Delay: 12.5\n'
            f'Host: {host}\n'
        )
    if r == 5:
        # junk delay value: ignored at selection → the default applies
        return ('User-agent: *\nDisallow: /consent\nAllow: /consent\n'
                'Crawl-delay: abc\n')
    if r == 6:
        # two delays in one group: LAST wins (3 → 30)
        return ('User-agent: *\nDisallow: /lib/\nAllow: /lib/*.js$\n'
                'Crawl-delay: 3\nCrawl-delay: 30\n')
    # delay 0 = explicit no-constraint → the max_budget cap applies
    return 'User-agent: graftbot\nDisallow:\nCrawl-delay: 0\n'


def robots_files_df(spark):
    """The per-host robots.txt dim table (12 rows — always the
    broadcast side of the crawl-policy join)."""
    return spark.createDataFrame(
        [(h, robots_txt_for(h)) for h in ROBOTS_HOSTS], ROBOTS_SCHEMA
    )


# --------------------------------------------------------------- sitemap corpus

SITEMAPS_SCHEMA = 'host string, sitemap_xml string'


def sitemap_xml_for(host: str) -> str:
    """Deterministic sitemap per host (indexed rotation like robots):
    a plain urlset with CDATA/entity/numeric-escape locs and full
    metadata; a sitemapindex with comments between refs; a namespaced
    urlset with a nested image-extension block (scoping trap: its
    <image:loc> must NOT leak into the entry) and a self-closing
    optional field; an empty urlset."""
    s = (ROBOTS_HOSTS.index(host) if host in ROBOTS_HOSTS
         else _h(f'sitemap:{host}')) % 4
    if s == 0:
        k = 3 + _h(f'smn:{host}') % 3
        urls = ''.join(
            f'  <url><loc>https://{host}/articles/a{j:08d}/doc{j}.md</loc>'
            f'<lastmod>2020-09-{13 + j % 10:02d}</lastmod>'
            f'<changefreq>{"weekly" if j % 2 else "daily"}</changefreq>'
            f'<priority>0.{5 + j % 5}</priority></url>\n'
            for j in range(k)
        )
        return (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            f'{urls}'
            f'  <url><loc><![CDATA[https://{host}/q?a=1&b=2]]></loc></url>\n'
            f'  <url><loc>https://{host}/p?x=1&amp;y=&#50;</loc>'
            '<priority> 0.9 </priority></url>\n'
            '</urlset>\n'
        )
    if s == 1:
        return (
            '<?xml version="1.0"?>\n'
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
            f'  <sitemap><loc>https://{host}/sitemap-a.xml</loc>'
            '<lastmod>2020-09-13T12:26:40Z</lastmod></sitemap>\n'
            '  <!-- rotated daily -->\n'
            f'  <sitemap><loc>https://{host}/sitemap-b.xml</loc></sitemap>\n'
            '</sitemapindex>\n'
        )
    if s == 2:
        return (
            '<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9" '
            'xmlns:image="http://www.google.com/schemas/sitemap-image/1.1">\n'
            f'  <sm:url><sm:loc>https://{host}/gallery</sm:loc>\n'
            f'    <image:image><image:loc>https://{host}/img/1.png</image:loc>'
            '<image:caption>c</image:caption></image:image>\n'
            '    <sm:lastmod/>\n'
            '  </sm:url>\n'
            f'  <sm:url><sm:loc>  https://{host}/plain  </sm:loc></sm:url>\n'
            '</sm:urlset>\n'
        )
    return ('<?xml version="1.0"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"></urlset>\n')


def sitemap_files_df(spark):
    """The per-host sitemap dim table (12 rows)."""
    return spark.createDataFrame(
        [(h, sitemap_xml_for(h)) for h in ROBOTS_HOSTS], SITEMAPS_SCHEMA
    )


PAGES_SCHEMA = 'url string, warc_ts timestamp, html binary, text string, lang string'


def pages_df(spark, n: int, partitions: int | None = None, fat: bool = False):
    """Distributed generation of the pages table (input_hint shape)."""
    from .operators.udfs import map_rows

    def gen(i):
        yield doc_row(i, fat)

    rng = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return map_rows(rng, ['id'], gen, PAGES_SCHEMA)


# ------------------------------------------------------------- PII plant

def pii_plant(i: int, text: str) -> str:
    """Deterministic PII sentences appended to document i's text (the
    shared INPUT construction for the pii_redact driver query, like
    warc_file_bytes is for the WARC tier — detection itself is what
    the independent twins check).  Rotation by i % 7: email / IPv4 /
    two phones / Luhn-valid card / negative controls (version string,
    bad octet, 20-digit run, bad email, prose years) / a combo
    sentence / untouched."""
    from .training.pii import luhn_check_digit

    k = i % 7
    if k == 0:
        return text + f' Contact us at user.{i}%tag+x@mail{i % 9}.example.org today.'
    if k == 1:
        return text + f' Edge node 10.{i % 256}.{(i * 3) % 256}.{1 + i % 200} served this page.'
    if k == 2:
        return (text + f' Call +1 (415) 555-{i % 10000:04d}'
                f' or 415-555-{(i * 7) % 10000:04d} now.')
    if k == 3:
        base = '4' + f'{i % 10 ** 14:014d}'
        card = base + str(luhn_check_digit(base))
        grouped = '-'.join(card[j:j + 4] for j in range(0, 16, 4))
        return text + f' Card on file: {grouped}.'
    if k == 4:
        base = '4' + f'{i % 10 ** 14:014d}'
        bad = base + str((luhn_check_digit(base) + 5) % 10)
        return (text + f' Version v1.2.{i % 9}.4 shipped; build 999.{i % 256}.1.1;'
                f' ref {bad}{bad[:4]}; mail not-an-email@@example..com;'
                f' years 2024 2025.')
    if k == 5:
        return text + (f' Reach admin{i}@ops.example.net from'
                       f' 172.16.{i % 256}.{1 + i % 250}'
                       f' or call ({100 + i % 900}) {200 + i % 800}-{i % 10000:04d}.')
    return text


# -------------------------------------------------------- mojibake plant

def _misdecode_cp1252(raw: bytes) -> str:
    """Byte-wise cp1252 mis-decode with latin-1 fallback on the five
    undefined bytes — how real sloppy decoders corrupt UTF-8."""
    out = []
    for b in raw:
        try:
            out.append(bytes([b]).decode('cp1252'))
        except UnicodeDecodeError:
            out.append(chr(b))
    return ''.join(out)


def mojibake_plant(i: int, text: str) -> str:
    """Deterministic encoding damage appended to document i's text
    (shared INPUT construction for the mojibake_fix driver query —
    repair itself is what the independent twins check).  Rotation by
    i % 6: latin-1 mis-decode / cp1252 mis-decode / DOUBLE-encoded /
    legit non-Latin text that must stay untouched / legit accents and
    one mojibake word in the same doc / untouched."""
    k = i % 6
    if k == 0:
        s = f' Résumé {i}: déjà vu — café №{i % 100}…'
        return text + s.encode('utf-8').decode('latin-1')
    if k == 1:
        s = f' “Smörgåsbord {i}” costs €{i % 90}.'
        return text + _misdecode_cp1252(s.encode('utf-8'))
    if k == 2:
        s = f' naïve Österreich {i}'
        once = s.encode('utf-8').decode('latin-1')
        return text + once.encode('utf-8').decode('latin-1')
    if k == 3:
        return text + f' Привет мир {i} — 中文測試。'
    if k == 4:
        return text + f' naïve café plus broken cafÃ© {i}.'
    return text
