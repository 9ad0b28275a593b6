"""Seeded ALTO corpus + catalog generator with independently computed
expected outputs.

Everything here is plain Python (no Spark): the XML files, the parquet
catalog mirror (``file.parquet`` + ``includes.parquet``) and, for every
document the pipeline should select, the expected outcome (ok/failed), the
transcript and the exact pretty-printed JSON object bytes. The expected
values follow the reference extractor's rules (v2 drops missing/empty
CONTENT, v3 keeps it; v3 has no fileName; coordinates use JS ``parseInt``
prefix semantics; page WIDTH/HEIGHT stay strings) and never call the
engine, so a wrong engine answer cannot also be the expected one.

Documents are built from the golden fixtures' shapes (tests/fixtures) and
the ``alto_parse_2k`` synthesiser's idea of arithmetic content, scaled up:
several pages, many blocks, v2 and v3 mixed, a few multi-MB documents, and
~5% planted bad documents:

- ``unsupported_ns``: root namespace neither v2 nor v3 -> failed;
- ``truncated``: the XML cut off mid-document -> failed;
- ``missing``: the catalog URL points at no file -> failed (fetch error);
- ``bad_coords``: HPOS/VPOS/WIDTH/HEIGHT like "12px", "-7junk", "abc", "" —
  the reference keeps such a document and parses coordinates with
  ``parseInt``, so the expected outcome is ok with the prefix/null values.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

NS_V2 = "http://www.loc.gov/standards/alto/ns-v2#"
NS_V3 = "http://www.loc.gov/standards/alto/ns-v3#"
NS_OTHER = "http://example.com/other"

# Words as stored in CONTENT (unescaped). A few carry characters that XML
# must escape or that are outside ASCII, so entity decoding and UTF-8 bytes
# are part of what is checked.
WORDS = (
    "the of and to in archive page line text block column image print "
    "scan letter word museum paper year city house street river church "
    "school market council report court harbour station film record "
    "café straße Ærø naïve AT&T <ref> \"quoted\" 1923 12.5 l'été"
).split()
BAD_COORDS = ("12px", "-7junk", "abc", "", " 42", "+5", "3.9", "x1")
EMPTY_PCT = 3      # % of strings with CONTENT=""
MISSING_PCT = 1    # % of strings without a CONTENT attribute

WATERMARK_SINCE = "2024-06-01"
_BASE_DAY = datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)


def js_parse_int(s: str | None) -> int | None:
    """JS ``parseInt`` on an attribute value: leading optionally-signed
    ASCII-digit prefix after trimming spaces, else null."""
    if s is None:
        return None
    m = re.match(r"[+-]?[0-9]+", s.strip(" "))
    return int(m.group(0)) if m else None


def _attr(v: str) -> str:
    return (
        v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


@dataclass
class Doc:
    rep_id: str
    kind: str           # ok | bad_coords | unsupported_ns | truncated | missing
    xml: str | None     # None for a missing file
    expected: dict | None  # simplified document (None when failed)


def _make_doc(rng: random.Random, rep_id: str, kind: str, version: int,
              target_bytes: int) -> Doc:
    ns = {2: NS_V2, 3: NS_V3}[version]
    if kind == "unsupported_ns":
        ns = NS_OTHER
    has_desc = rng.random() < 0.9
    n_pages = rng.randint(1, 4)
    out = [f'<?xml version="1.0" encoding="UTF-8"?>\n<alto xmlns="{ns}">\n']
    desc = dict.fromkeys(
        ("fileName", "processingDateTime", "processingStepSettings",
         "softwareCreator", "softwareName", "softwareVersion", "width", "height")
    )
    if has_desc:
        fname = f"{rep_id}_p0001.tif"
        dt = f"20{rng.randint(10, 23)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"
        settings = f"dpi:{rng.choice((300, 400, 600))}"
        creator, name, version_s = rng.choice(
            (("ABBYY", "FineReader", "12.0"), ("Tesseract", "tesseract-ocr", "5.3"),
             ("Google", "Document AI", "2.1"))
        )
        out.append(
            "  <Description>\n"
            f"    <sourceImageInformation><fileName>{fname}</fileName></sourceImageInformation>\n"
            "    <OCRProcessing>\n      <ocrProcessingStep>\n"
            f"        <processingDateTime>{dt}</processingDateTime>\n"
            f"        <processingStepSettings>{settings}</processingStepSettings>\n"
            "        <processingSoftware>\n"
            f"          <softwareCreator>{creator}</softwareCreator>\n"
            f"          <softwareName>{name}</softwareName>\n"
            f"          <softwareVersion>{version_s}</softwareVersion>\n"
            "        </processingSoftware>\n      </ocrProcessingStep>\n"
            "    </OCRProcessing>\n  </Description>\n"
        )
        desc.update(
            fileName=fname if version == 2 else None, processingDateTime=dt,
            processingStepSettings=settings, softwareCreator=creator,
            softwareName=name, softwareVersion=version_s,
        )
    out.append("  <Layout>\n")
    lines: list[dict] = []
    per_page = max(target_bytes // n_pages, 600)
    for p in range(n_pages):
        w, h = rng.choice(((2480, 3508), (1240, 1754), (3000, 4000)))
        if p == 0:
            desc.update(width=str(w), height=str(h))
        out.append(f'    <Page ID="P{p}" WIDTH="{w}" HEIGHT="{h}">\n      <PrintSpace>\n')
        page_bytes = 0
        while page_bytes < per_page:
            out.append("        <TextBlock>\n")
            for _ in range(rng.randint(2, 8)):
                vpos = rng.randint(0, h)
                parts = ["          <TextLine>"]
                hpos = rng.randint(0, 200)
                for _ in range(rng.randint(3, 12)):
                    wd = rng.randint(10, 120)
                    r = rng.randrange(100)
                    content = None if r < MISSING_PCT else ("" if r < MISSING_PCT + EMPTY_PCT else rng.choice(WORDS))
                    coords = [hpos, vpos, wd, rng.randint(10, 40)]
                    if kind == "bad_coords" and rng.random() < 0.3:
                        coords = [rng.choice(BAD_COORDS) if rng.random() < 0.5 else c for c in coords]
                    attrs = "" if content is None else f'CONTENT="{_attr(content)}" '
                    parts.append(
                        f'<String {attrs}HPOS="{coords[0]}" VPOS="{coords[1]}" '
                        f'WIDTH="{coords[2]}" HEIGHT="{coords[3]}"/><SP WIDTH="8"/>'
                    )
                    if version == 3 or content:
                        x, y, cw, ch = (js_parse_int(c) if isinstance(c, str) else c for c in coords)
                        lines.append({"text": content, "x": x, "y": y, "width": cw, "height": ch})
                    hpos += wd + 8
                parts.append("</TextLine>\n")
                s = "".join(parts)
                page_bytes += len(s)
                out.append(s)
            out.append("        </TextBlock>\n")
        out.append("      </PrintSpace>\n    </Page>\n")
    out.append("  </Layout>\n</alto>\n")
    xml = "".join(out)
    expected = {"description": desc, "text": lines}
    if kind == "truncated":
        xml = xml[: int(len(xml) * rng.uniform(0.3, 0.8))]
    if kind in ("unsupported_ns", "truncated", "missing"):
        expected = None
    return Doc(rep_id, kind, None if kind == "missing" else xml, expected)


def _scalar(v) -> str:
    if v is None:
        return "null"
    return str(v) if isinstance(v, int) else json.dumps(v, ensure_ascii=False)


def pretty_json(simplified: dict) -> bytes:
    """The object sink's bytes: ``JSON.stringify(doc, null, 2)`` layout of
    the simplified document, written out field by field."""
    desc = ",\n".join(f'    "{k}": {_scalar(v)}' for k, v in simplified["description"].items())
    items = ",\n".join(
        "    {\n" + ",\n".join(f'      "{k}": {_scalar(v)}' for k, v in t.items()) + "\n    }"
        for t in simplified["text"]
    )
    text = f"[\n{items}\n  ]" if items else "[]"
    return f'{{\n  "description": {{\n{desc}\n  }},\n  "text": {text}\n}}'.encode("utf-8")


def transcript(simplified: dict) -> str:
    return " ".join(t["text"] for t in simplified["text"] if t["text"] is not None)


def _kinds(rng: random.Random, n: int) -> list[str]:
    """~5% bad documents, spread over the four planted kinds."""
    kinds = ["ok"] * n
    bad = max(4, n // 20)
    for i, idx in enumerate(rng.sample(range(n), bad)):
        kinds[idx] = ("unsupported_ns", "truncated", "missing", "bad_coords")[i % 4]
    return kinds


@dataclass(frozen=True)
class CorpusSpec:
    name: str
    n_docs: int          # documents the pipeline run selects
    doc_kb: int          # typical document size
    n_big: int           # documents of several MB among them
    big_mb: float
    catalog_rows: int    # total catalog rows (selected + older + distractors)
    full_sync: bool


def _write_catalog(root: str, rows: list[tuple], includes: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "id": pa.array(cols[0], pa.string()),
        "representation_id": pa.array(cols[1], pa.string()),
        "premis_stored_at": pa.array(cols[2], pa.string()),
        "ebucore_has_mime_type": pa.array(cols[3], pa.string()),
        "schema_name": pa.array(cols[4], pa.string()),
        "updated_at": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
    })
    cat = os.path.join(root, "catalog")
    os.makedirs(os.path.join(cat, "file.parquet"))
    os.makedirs(os.path.join(cat, "includes.parquet"))
    pq.write_table(table, os.path.join(cat, "file.parquet", "part-0.parquet"))
    pq.write_table(
        pa.table({"file_id": pa.array(includes, pa.string())}),
        os.path.join(cat, "includes.parquet", "part-0.parquet"),
    )


def generate(root: str, spec: CorpusSpec, seed: int) -> dict:
    """Write the corpus under ``root`` and return the manifest (also saved
    as ``root/manifest.json``). Reuses an existing complete manifest, so
    the same (spec, seed) is generated once per checkout."""
    mpath = os.path.join(root, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath, encoding="utf-8") as f:
            manifest = json.load(f)
        # the catalog holds absolute file:// URLs: reuse it only in place
        if manifest["root"] == os.path.abspath(root):
            return manifest
    if os.path.exists(root):
        shutil.rmtree(root)
    xml_dir = os.path.join(root, "xml")
    os.makedirs(xml_dir)
    # The seed draws the documents' content. Their shape — which rows are
    # bad or several MB, ALTO version, sizes, update times — comes from the
    # spec alone, so every seed puts the same load on the same tasks.
    srng = random.Random(f"{spec.name}:shape")
    rng = random.Random(f"{spec.name}:{seed}")
    kinds = _kinds(srng, spec.n_docs)
    big = set(srng.sample([i for i, k in enumerate(kinds) if k == "ok"], spec.n_big))
    rows: list[tuple] = []
    includes: list[str] = []
    expected: dict[str, dict] = {}
    input_bytes = 0
    max_updated = None
    for i, kind in enumerate(kinds):
        rep = f"rep{i:06d}"
        size = int(spec.big_mb * 1e6) if i in big else int(spec.doc_kb * 1000 * srng.uniform(0.5, 1.5))
        doc = _make_doc(rng, rep, kind, srng.choice((2, 3)), size)
        path = os.path.join(xml_dir, f"{rep}.xml")
        if doc.xml is not None:
            data = doc.xml.encode("utf-8")
            input_bytes += len(data)
            with open(path, "wb") as f:
                f.write(data)
        updated = _BASE_DAY + timedelta(days=srng.randrange(10), minutes=srng.randrange(600))
        max_updated = max(max_updated or updated, updated)
        rows.append((f"f{i}", rep, f"file://{path}", "application/xml",
                     srng.choice(("alto", "schema_alto_v2", "alto_v3")), updated))
        includes.append(f"f{i}")
        entry = {"kind": kind, "ok": doc.expected is not None}
        if doc.expected is not None:
            entry["transcript"] = transcript(doc.expected)
            entry["key"] = f"{rep}.xml.json"
            entry["json_len"] = len(pretty_json(doc.expected))
            with open(os.path.join(root, "expected.jsonl"), "a", encoding="utf-8") as f:
                f.write(json.dumps({"rep": rep, "doc": doc.expected}, ensure_ascii=False) + "\n")
        expected[rep] = entry
    # rows the catalog scan must drop: older than the watermark (their
    # files do not exist — fetching one would show as a failure), wrong
    # mime type, non-ALTO schema, and a file missing from includes.
    n_rest = max(spec.catalog_rows - spec.n_docs, 0)
    for j in range(n_rest):
        i = spec.n_docs + j
        r = j % 100
        fid = f"f{i}"
        mime, schema, updated = "application/xml", "alto", _BASE_DAY - timedelta(days=1 + j % 900)
        in_includes = True
        if r == 0:
            mime, updated = "image/tiff", _BASE_DAY + timedelta(days=j % 10)
        elif r == 1:
            schema, updated = "mets", _BASE_DAY + timedelta(days=j % 10)
        elif r == 2:
            in_includes, updated = False, _BASE_DAY + timedelta(days=j % 10)
        if spec.full_sync and updated < _BASE_DAY:
            # a full sync selects every ALTO row, so old rows are only
            # generated for the incremental catalog
            continue
        rows.append((fid, f"rex{j:07d}", f"file://{xml_dir}/absent_{j}.xml",
                     mime, schema, updated))
        if in_includes:
            includes.append(fid)
    _write_catalog(root, rows, includes)
    manifest = {
        "spec": spec.__dict__, "seed": seed, "root": os.path.abspath(root),
        "since": None if spec.full_sync else WATERMARK_SINCE,
        "watermark_after": max_updated.strftime("%Y-%m-%d"),
        "input_bytes": input_bytes, "catalog_rows": len(rows),
        "docs": expected,
    }
    with open(mpath + ".tmp", "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    os.replace(mpath + ".tmp", mpath)
    return manifest


def load_expected_docs(root: str) -> dict[str, dict]:
    """rep id -> expected simplified document, for ok documents."""
    out = {}
    with open(os.path.join(root, "expected.jsonl"), encoding="utf-8") as f:
        for line in f:
            rec = json.loads(line)
            out[rec["rep"]] = rec["doc"]
    return out
