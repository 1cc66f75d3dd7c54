"""Deterministic synthetic transcripts generator (FIXTURES.md §1-2).

Builds the primary input table ``(conv_id, turn_idx, role, text, tool, ts)``
from the driver-provided ``documents.parquet`` at a given sf dir — the doc
texts seed the payload content, so the table scales with sf without any
RNG-state or wall-clock dependence: every value is a pure function of
``doc_id`` via md5.

Payload mix (FIXTURES.md §2): ~40% plain, ~30% html, ~15% pdf_text,
~10% pdf_digital, ~2.5% pdf_vector, ~2.5% pdf_scanned, ~1-2% malformed.
Skew: a handful of hot conversations own ~30% of turns (hot-conversation
skew exercises salting, BASELINE.json:14).
"""
from __future__ import annotations

import base64
import hashlib
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .kernels.pdf_mini import (
    ImageSpec,
    PageSpec,
    TextRun,
    build_pdf,
    deterministic_bytes,
)

__all__ = ["generate_transcripts", "TRANSCRIPT_SCHEMA"]

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["browser", "pdf_reader", "search"]
_BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")

_NAV_WORDS = "home about products pricing blog careers contact login signup docs".split()
_FOOTER_WORDS = "privacy terms sitemap support rss twitter github status press legal".split()

# Character-reference phrases wild pages actually contain (K8 realism —
# r04 verdict gap #1): decimal + hex numeric refs, windows-1252 C1 numerics
# (&#146; etc.), and the common named entities. Every html payload embeds
# one, so the goldens/oracles exercise the kernel's decoder continuously.
_ENTITY_PHRASES = [
    "it&#8217;s what&#x27;s new &mdash; &ldquo;quoted&rdquo; material today",
    "caf&eacute; men&uacute; &amp; r&eacute;sum&eacute; notes &#150; updated",
    "&copy; 2024 example corp&trade; &middot; temperature 50&deg; &plusmn; 2",
    "trailing thought&hellip; plus&nbsp;bound words &laquo;quoted marks&raquo;",
    "where x &ne; y &le; z &rarr; proceed &bull; checklist item &#8220;done&#8221;",
    "don&#146;t worry &#151; klarer caf&#233; text f&uuml;r alle &sect; readers",
]


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.md5(":".join(str(p) for p in parts).encode()).digest()[:8], "big"
    )


def _words_of(text: str) -> list[str]:
    ws = text.split()
    return ws if ws else ["lorem"]


# ------------------------------------------------------------ payloads ---

def _make_html(doc_id: int, words: list[str]) -> str:
    nav = " | ".join(
        f'<a href="/{w}">{w}</a>' for w in _NAV_WORDS[: 6 + _h(doc_id, "nav") % 4]
    )
    n = len(words)
    title = " ".join(words[: min(5, n)])
    paras = []
    chunk = max(8, n // 3)
    for i in range(0, n, chunk):
        paras.append("<p>" + " ".join(words[i : i + chunk]) + "</p>")
    footer = " ".join(
        f'<a href="/f/{w}">{w}</a>' for w in _FOOTER_WORDS[: 5 + _h(doc_id, "ft") % 5]
    )
    aside = "<p>" + " ".join(words[: min(12, n)][::-1]) + "</p>"
    entity_para = "<p>" + _ENTITY_PHRASES[_h(doc_id, "ent") % len(_ENTITY_PHRASES)] + "</p>"
    return (
        "<html><head><title>synthetic page</title>"
        "<style>body{font:14px sans}</style>"
        "<script>var x=1;</script></head>"
        f"<body><header><nav>{nav}</nav></header>"
        f"<article><h1>{title}</h1>{''.join(paras)}{entity_para}</article>"
        f"<aside>{aside}</aside>"
        f"<footer>{footer}</footer></body></html>"
    )


def _text_pages(doc_id: int, words: list[str], min_chars: int = 120) -> list[PageSpec]:
    """Lay words out as lines of 8 words, 3 lines per block, 2 pages max."""
    while sum(len(w) + 1 for w in words) < min_chars:
        words = words + words
    lines = [" ".join(words[i : i + 8]) for i in range(0, len(words), 8)]
    pages: list[PageSpec] = []
    li = 0
    for _page_no in range(2):
        if li >= len(lines):
            break
        runs: list[TextRun] = []
        y = 750.0
        blk = 0
        while li < len(lines) and y > 60:
            runs.append(TextRun(x=72.0, y=y, size=10.0, text=lines[li][:80]))
            li += 1
            blk += 1
            if blk % 3 == 0:
                y -= 30.0  # block gap
            else:
                y -= 12.0  # line leading
        pages.append(PageSpec(text_runs=runs))
    return pages


def _info_of(doc_id: int, kind: str) -> dict[str, str] | None:
    """Deterministic /Info metadata; ~1 in 5 docs has none (empty-map path).

    CreationDate uses the PDF 'D:YYYYMMDDHHmmSS' form the X2 parser reads;
    Title exercises the literal-string escapes the writer emits."""
    if _h(doc_id, "noinfo") % 5 == 0:
        return None
    y = 2010 + _h(doc_id, "iy") % 15
    mo = 1 + _h(doc_id, "imo") % 12
    d = 1 + _h(doc_id, "id") % 28
    hh = _h(doc_id, "ih") % 24
    mi = _h(doc_id, "imi") % 60
    ss = _h(doc_id, "iss") % 60
    return {
        "Title": f"{kind} report ({doc_id})",
        "Author": f"author-{doc_id % 7}",
        "CreationDate": f"D:{y}{mo:02d}{d:02d}{hh:02d}{mi:02d}{ss:02d}",
    }


def _objstm_of(doc_id: int) -> bool:
    """A deterministic third of PDF payloads use the PDF 1.5 layout
    (ObjStm + xref stream) — the mix a wild corpus actually has — so the
    driver's golden/oracle gates exercise that parse path continuously,
    not just the pytest vectors."""
    return _h(doc_id, "layout") % 3 == 0


def _make_pdf_text(doc_id: int, words: list[str]) -> str:
    return base64.b64encode(
        build_pdf(
            _text_pages(doc_id, words),
            info=_info_of(doc_id, "text"),
            objstm=_objstm_of(doc_id),
        )
    ).decode()


_IMG_FMTS = ["raw", "jpeg", "flate"]


def _fmt_of(doc_id: int, tag: str) -> str:
    return _IMG_FMTS[_h(doc_id, "fmt", tag) % 3]


def _color_of(doc_id: int, tag: str) -> str:
    return "gray" if _h(doc_id, "col", tag) % 4 == 0 else "rgb"


def _make_pdf_digital(doc_id: int, words: list[str]) -> str:
    pages = _text_pages(doc_id, words, min_chars=150)[:1]
    big = deterministic_bytes(f"img:{doc_id}:a", 256)
    images = [
        # kept: large photo
        ImageSpec(x=100, y=400, w=300, h=200, px_w=600, px_h=400, data=big,
                  fmt=_fmt_of(doc_id, "a"), color=_color_of(doc_id, "a")),
        # duplicate bytes elsewhere on the page -> md5 dedup drop
        ImageSpec(x=100, y=120, w=150, h=100, px_w=600, px_h=400, data=big,
                  fmt=_fmt_of(doc_id, "a"), color=_color_of(doc_id, "a")),
        # contained inside the first box -> NMS containment drop
        ImageSpec(
            x=150, y=450, w=100, h=80, px_w=400, px_h=320,
            data=deterministic_bytes(f"img:{doc_id}:b", 200),
            fmt=_fmt_of(doc_id, "b"), color=_color_of(doc_id, "b"),
        ),
        # too small (px area < 100**2) -> min-size drop
        ImageSpec(
            x=450, y=600, w=30, h=30, px_w=60, px_h=60,
            data=deterministic_bytes(f"img:{doc_id}:c", 64),
            fmt=_fmt_of(doc_id, "c"), color=_color_of(doc_id, "c"),
        ),
        # out of bounds -> bounds drop
        ImageSpec(
            x=500, y=700, w=200, h=150, px_w=400, px_h=300,
            data=deterministic_bytes(f"img:{doc_id}:d", 128),
            fmt=_fmt_of(doc_id, "d"), color=_color_of(doc_id, "d"),
        ),
    ]
    if _h(doc_id, "xtra") % 2 == 0:
        # heavily-overlapping (not contained) second photo -> NMS overlap drop
        images.append(
            ImageSpec(
                x=110, y=410, w=290, h=195, px_w=580, px_h=390,
                data=deterministic_bytes(f"img:{doc_id}:e", 220),
                fmt=_fmt_of(doc_id, "e"), color=_color_of(doc_id, "e"),
            )
        )
    pages[0].images = images
    return base64.b64encode(
        build_pdf(pages, info=_info_of(doc_id, "digital"), objstm=_objstm_of(doc_id))
    ).decode()


def _make_pdf_vector(doc_id: int) -> str:
    page = PageSpec(
        text_runs=[TextRun(x=72, y=760, size=10, text=f"DRAWING {doc_id}")],
        n_lines=600 + _h(doc_id, "nl") % 100,
        n_rects=300,
        n_curves=200,
    )
    return base64.b64encode(
        build_pdf([page], info=_info_of(doc_id, "vector"), objstm=_objstm_of(doc_id))
    ).decode()


def _make_pdf_scanned(doc_id: int) -> str:
    page = PageSpec(
        text_runs=[TextRun(x=72, y=20, size=8, text=f"scan {doc_id % 97}")],
        images=[
            ImageSpec(
                x=0, y=0, w=612, h=792, px_w=1224, px_h=1584,
                data=deterministic_bytes(f"scan:{doc_id}", 512),
                fmt=_fmt_of(doc_id, "scan"), color=_color_of(doc_id, "scan"),
            )
        ],
    )
    return base64.b64encode(
        build_pdf([page], info=_info_of(doc_id, "scan"), objstm=_objstm_of(doc_id))
    ).decode()


def _make_malformed(doc_id: int) -> str:
    """Hostile-PDF corpus arm: six deterministic corruption shapes so the
    PdfParseError taxonomy (kernels/pdf_mini.py) is exercised end-to-end
    through extract_kind_stats.n_fail / lineage failure counts at query
    level, not just in unit tests (r04 verdict task #6). Variants 3-5
    tamper REAL well-formed 1.5 builds the way wild corruption does:
    shifted offsets (lying xref), clobbered compressed bytes, and a
    nonsense ObjStm /First pointer."""
    v = _h(doc_id, "bad") % 6
    if v == 0:
        return ""  # empty payload
    if v == 1:
        return "JVBERi0xLj!!corrupt!!"  # pdf prefix, invalid base64
    if v == 2:
        # valid base64, %PDF- magic, truncated body -> "no objects"
        return base64.b64encode(b"%PDF-1.4\n1 0 obj\n<< trunca").decode()
    words = [f"hostile{doc_id % 13}", "fixture", "page", "content", "words"] * 8
    raw = build_pdf(_text_pages(doc_id, words), objstm=True)
    if v == 3:
        # lying xref: a comment line after the header shifts every raw
        # offset by 6 bytes -> "xref stream offset mismatch"
        bad = raw[:9] + b"%shft\n" + raw[9:]
    elif v == 4:
        # clobber the tail of the ObjStm's zlib payload (same length, so
        # offsets stay honest) -> "bad ObjStm stream: ... data check"
        i = raw.find(b"/Type /ObjStm")
        j = raw.find(b"\nendstream", i)
        bad = raw[: j - 8] + b"\x00" * 8 + raw[j:]
    else:
        # nonsense /First pointer (same digit width keeps offsets honest)
        # -> "short ObjStm header"
        m = re.search(rb"/First (\d+)", raw)
        bad = raw[: m.start(1)] + b"0" * len(m.group(1)) + raw[m.end(1):]
    return base64.b64encode(bad).decode()


def _payload(doc_id: int, text: str) -> str:
    u = _h(doc_id, "kind") % 1000
    words = _words_of(text)
    if u < 400:
        return text  # plain
    if u < 700:
        return _make_html(doc_id, words)
    if u < 850:
        return _make_pdf_text(doc_id, words)
    if u < 950:
        return _make_pdf_digital(doc_id, words)
    if u < 975:
        return _make_pdf_vector(doc_id)
    if u < 985:
        return _make_pdf_scanned(doc_id)
    return _make_malformed(doc_id)


# ------------------------------------------------------------ assembly ---

def generate_transcripts(
    sf_dir: str,
    out_path: str | None = None,
    limit: int | None = None,
) -> pd.DataFrame:
    """One turn per document row in ``{sf_dir}/documents.parquet``.

    If ``out_path`` is given, also writes the table as parquet, unless a
    file already exists there.
    """
    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    if limit is not None:
        docs = docs.iloc[:limit]
    return _assemble(docs, out_path)


def generate_transcripts_multi(sf_dir: str, out_path: str, mult: int = 4) -> str:
    """Bench-scale corpus: ``mult`` deterministic replicas of the documents
    (doc_id offset by 10^7 per replica, so payload kinds/conversations vary
    per replica). Used only for throughput/scaling runs, never for goldens.
    """
    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    reps = []
    for m in range(mult):
        r = docs.copy()
        r["doc_id"] = r["doc_id"] + m * 10_000_000
        reps.append(r)
    _assemble(pd.concat(reps, ignore_index=True), out_path)
    return out_path


def _payload_chunk(args: tuple[list[int], list[str]]) -> list[str]:
    ids, texts = args
    return [_payload(int(d), t) for d, t in zip(ids, texts)]


def _assemble(docs: pd.DataFrame, out_path: str | None = None) -> pd.DataFrame:
    n_docs = len(docs)
    n_cold = max(1, n_docs // 8)

    doc_ids = docs["doc_id"].to_numpy()
    conv_ids = []
    for d in doc_ids:
        h = _h(d, "conv")
        if h % 100 < 30:  # 30% of turns land in 4 hot conversations
            conv_ids.append(f"hotconv{h // 100 % 4:02d}")
        else:
            conv_ids.append(f"conv{h // 100 % n_cold:05d}")

    texts = docs["text"].astype(str).tolist()
    if n_docs >= 50_000:
        # payload construction (PDF building) dominates generation cost and
        # is a pure per-row function — chunk it across processes; order is
        # preserved, output identical to the sequential path
        import multiprocessing as mp

        nw = min(16, max(2, os.cpu_count() or 2))
        step = (n_docs + nw * 4 - 1) // (nw * 4)
        chunks = [
            (list(doc_ids[i : i + step]), texts[i : i + step])
            for i in range(0, n_docs, step)
        ]
        with mp.Pool(nw) as pool:
            payloads = [p for chunk in pool.map(_payload_chunk, chunks) for p in chunk]
    else:
        payloads = [_payload(int(d), t) for d, t in zip(doc_ids, texts)]
    roles = [_ROLES[_h(d, "role") % 3] for d in doc_ids]
    tools = [
        _TOOLS[_h(d, "tool") % 3] if r == "tool" else ""
        for d, r in zip(doc_ids, roles)
    ]

    df = pd.DataFrame(
        {
            "conv_id": conv_ids,
            "doc_id": doc_ids,
            "role": roles,
            "text": payloads,
            "tool": tools,
        }
    )
    # dense 0-based turn_idx per conversation, ordered by doc_id (deterministic)
    df = df.sort_values(["conv_id", "doc_id"], kind="mergesort").reset_index(drop=True)
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype("int32")
    # ts monotone within conversation, pure function of turn_idx
    df["ts"] = _BASE_TS + df["turn_idx"].to_numpy().astype("timedelta64[m]")
    df = df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]

    if out_path is not None and not os.path.exists(out_path):
        os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
        table = pa.Table.from_pandas(df, schema=TRANSCRIPT_SCHEMA, preserve_index=False)
        tmp = f"{out_path}.tmp.{os.getpid()}"
        # small row groups: Spark parallelizes a parquet scan at row-group
        # granularity — one giant group would make the scan+first-shuffle a
        # single task (a serial Amdahl bottleneck ahead of the kernel)
        pq.write_table(table, tmp, row_group_size=2048)
        os.replace(tmp, out_path)  # atomic: concurrent generators race safely
    return df

