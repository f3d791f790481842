"""Seeded input builders for the benchmark workloads.

Every builder takes a seed and returns a pandas DataFrame; the same seed
gives the same frame. Payloads come from the repo's ``fixtures.gen``
builders, so the benchmark feeds the job the same formats the tests do.
"""

from __future__ import annotations

import base64
import functools
import io
import random
import time
import types
import zipfile
from datetime import timedelta

import pandas as pd

from fixtures import gen

# Rows in each workload's input. The shipped job layout (32 buckets x
# salt 4 = 128 Python tasks) costs 10-15 s per job on a 4-vCPU host even
# on tiny inputs; these sizes keep one job at 13-25 s there.
SHORT_ROWS = 20_000
SHORT_DUP_SHARE = 0.25
DOCS_ROWS = 1_200
CURATE_DOCS = 600

DOC_CONVS = 60
# gen_transcripts appends this many edge rows to conv-1's tail
GEN_EDGE_ROWS = 8
# base64 of the PDF and zip magic numbers
PDF_B64, ZIP_B64 = "JVBERi0", "UEsDB"

# Payloads that must end as status='error' rows: PDF magic with broken
# base64, and zip magic with broken base64 (the gen_transcripts edge set).
BROKEN_PAYLOADS = ("JVBE" + "RiBicm9rZW4", "UEsDB" + "%%not-base64%%")
# One unique turn in this many of short_turns is not plain text: these
# cycle through the broken payloads and one fixture document of each
# format, so every kernel is timed on this input too and error_row_share
# is never 0.
SHORT_OTHER_EVERY = 100
SHORT_OTHERS = (lambda rng: BROKEN_PAYLOADS[0], lambda rng: BROKEN_PAYLOADS[1],
                gen.gen_html, gen.gen_pdf_payload, gen.gen_docx_payload,
                gen.gen_xlsx_payload, gen.gen_pptx_payload)


# Stands in for the time module inside zipfile while inputs are built:
# zip members are stamped with the time they are written, and a fixed
# stamp (the zip epoch, 1980-01-01) keeps payloads a function of the seed.
_ZIP_EPOCH_CLOCK = types.SimpleNamespace(time=lambda: 315532800.0,
                                         localtime=time.gmtime)


def _seed_only(build):
    @functools.wraps(build)
    def wrapper(*args, **kwargs):
        real, zipfile.time = zipfile.time, _ZIP_EPOCH_CLOCK
        try:
            return build(*args, **kwargs)
        finally:
            zipfile.time = real
    return wrapper


def _table(rows: list[dict], rng: random.Random) -> pd.DataFrame:
    rng.shuffle(rows)
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark's parquet reader rejects TIMESTAMP(NANOS)
    df["ts"] = df["ts"].astype("datetime64[us, UTC]")
    return df


def _turn(conv: str, t: int, payload: str) -> dict:
    role = gen.ROLES[t % 3]
    return {"conv_id": conv, "turn_idx": t, "role": role, "text": payload,
            "tool": "editor" if role == "tool" else None,
            "ts": gen.BASE_TS + timedelta(minutes=t)}


@_seed_only
def short_turns(seed: int, n_rows: int = SHORT_ROWS) -> pd.DataFrame:
    """Short plain-text chat turns over many conversations, with a few
    documents and broken payloads among them (``SHORT_OTHERS``); about a
    quarter of the rows are re-delivered copies of another row's key and
    payload."""
    rng = random.Random(seed)
    n_unique = round(n_rows * (1 - SHORT_DUP_SHARE))
    n_convs = max(1, n_unique // 25)
    next_turn = [0] * n_convs
    rows = []
    for i in range(n_unique):
        c = rng.randrange(n_convs)
        payload = gen.gen_plain(rng) if i % SHORT_OTHER_EVERY else \
            SHORT_OTHERS[i // SHORT_OTHER_EVERY % len(SHORT_OTHERS)](rng)
        rows.append(_turn(f"conv-{c}", next_turn[c], payload))
        next_turn[c] += 1
    rows += [dict(rng.choice(rows[:n_unique]))
             for _ in range(n_rows - n_unique)]
    return _table(rows, rng)


def _ascii_line(rng: random.Random) -> str:
    return "".join(ch for ch in gen.gen_plain(rng) if " " <= ch < "\x7f")


def long_pdf(rng: random.Random, pages: int = 10, lines: int = 30) -> str:
    doc = gen.build_pdf(
        [[_ascii_line(rng)[:90] for _ in range(lines)] for _ in range(pages)],
        rng, flate=rng.random() < 0.5)
    return base64.b64encode(doc).decode("ascii")


def long_docx(rng: random.Random, paragraphs: int = 80) -> str:
    body = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{gen._xesc(_ascii_line(rng))}'
        f"</w:t></w:r></w:p>" for _ in range(paragraphs))
    return gen._ooxml_zip({
        "[Content_Types].xml": '<?xml version="1.0"?><Types/>',
        "word/document.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><w:document {gen._W_NS}>'
            f"<w:body>{body}</w:body></w:document>"})


def _is_docx(payload: str) -> bool:
    try:
        with zipfile.ZipFile(io.BytesIO(base64.b64decode(payload))) as zf:
            return "word/document.xml" in zf.namelist()
    except (ValueError, zipfile.BadZipFile):
        return False


def _lengthen(payload: str, rng: random.Random, paragraphs: int = 60) -> str:
    """The long-document form of a gen_transcripts payload: an HTML page
    gains ``paragraphs`` article paragraphs (~35 KB at the default), a PDF
    becomes 10 pages and a docx 80 paragraphs; anything else is kept."""
    if "</article>" in payload:
        body = "".join(f"<p>{gen.gen_plain(rng)}</p>"
                       for _ in range(paragraphs))
        return payload.replace("</article>", body + "</article>", 1)
    if payload.startswith(PDF_B64):
        return long_pdf(rng)
    if payload.startswith(ZIP_B64) and _is_docx(payload):
        return long_docx(rng)
    return payload


@_seed_only
def long_docs(seed: int, n_rows: int = DOCS_ROWS) -> pd.DataFrame:
    """``gen_transcripts`` (its content mix, conv-0 holding ~20% of the
    turns, its edge rows and re-delivered copies) with the HTML, PDF and
    docx turns lengthened to long documents. The edge rows keep their
    fixture payloads, three of them end as error rows."""
    df = gen.gen_transcripts(n_rows, DOC_CONVS, seed)
    first_edge = (df["conv_id"] == "conv-1").sum() - GEN_EDGE_ROWS
    rng = random.Random(seed)
    longer: dict[tuple, str] = {}
    for key, payload in sorted(zip(zip(df["conv_id"], df["turn_idx"]),
                                   df["text"])):
        if key not in longer:  # a re-delivered copy keeps its twin's text
            edge = key[0] == "conv-1" and key[1] >= first_edge
            longer[key] = payload if edge else _lengthen(payload, rng)
    df["text"] = [longer[k] for k in zip(df["conv_id"], df["turn_idx"])]
    return df


BOILERPLATE = ("Subscribe to our newsletter for weekly updates on data "
               "pipelines and model training. Unsubscribe at any time.")


def curate_corpus(seed: int, n_docs: int = CURATE_DOCS
                  ) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Documents of several paragraphs for curation and near-dup
    clustering. Returns the frame and the planted ``(twin, source)`` id
    pairs: exact copies and copies with one word changed. A shared
    boilerplate paragraph rides on a third of the documents, and one
    document in a hundred is empty (it cannot be scored)."""
    rng = random.Random(seed)
    n_twins = n_docs // 20
    n_src = n_docs - 2 * n_twins
    texts = []
    for i in range(n_src):
        if i % 100 == 99:
            texts.append("")
            continue
        paras = [gen.gen_plain(rng) for _ in range(rng.randint(6, 10))]
        if rng.random() < 1 / 3:
            paras.append(BOILERPLATE)
        texts.append("\n\n".join(paras))
    sources = [i for i in range(n_src) if texts[i]]
    planted = []
    for k in range(2 * n_twins):
        src = rng.choice(sources)
        text = texts[src]
        if k % 2:  # near twin: one word replaced
            words = text.split(" ")
            words[rng.randrange(len(words))] = "replaced"
            text = " ".join(words)
        planted.append((len(texts), src))
        texts.append(text)
    return pd.DataFrame({"doc_id": range(len(texts)), "text": texts}), planted


def dedupe(df: pd.DataFrame) -> pd.DataFrame:
    """The job's dedupe: one row per ``(conv_id, turn_idx)``. Copies carry
    identical payloads here, so which copy wins does not matter."""
    return df.drop_duplicates(["conv_id", "turn_idx"])
