"""Deterministic benchmark inputs, built from ``xdan_dqa_spark.synth.make_webtext``.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files, a different seed writes different ones.
Ground truth (which docs are injected duplicates) is returned beside the
files and never shown to the program under test.
"""

from __future__ import annotations

import html as _html
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from xdan_dqa_spark.synth import make_webtext

WEBTEXT_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string()),
])

# Sizes: the work per op. Each job pays a fixed ~4 s per run on four cores
# (planning, task launch, Python worker hand-off, file commits), so these are
# large enough that the per-doc work of the layers carries most of an op.
SNAPSHOT_BODIES = 4000      # make_webtext bodies composed into snapshot pages
PAGE_BODIES = (1, 7)        # bodies per page, [lo, hi)
CORPUS_BASE_DOCS = 6000     # dedup corpus originals
CORPUS_EXACT_SHARE = 0.10
CORPUS_EDIT_SHARE = 0.10
SPAM_CLUSTERS = 12
SPAM_CLUSTER_SIZE = (8, 25)
NEARDUP_MIN_TOKENS = 30     # a one-token edit of a shorter doc is no near-dup


def _page_html(title: str, heading: str, body_html: str) -> bytes:
    # Same shape as synth.make_webtext's pages.
    return (
        "<html><head><title>%s</title><script>var x = 1;</script>"
        "<style>p{color:red}</style></head><body><h1>%s</h1>%s"
        "<!-- comment --></body></html>"
        % (_html.escape(title), _html.escape(heading), body_html)
    ).encode("utf-8")


def _body_html(text: str) -> str:
    return "<p>%s</p>" % _html.escape(text).replace("\n", "</p><p>")


def _one_token_edit(text: str, rng: np.random.Generator, tag: str) -> str:
    toks = text.split(" ")
    toks[int(rng.integers(1, len(toks)))] = tag
    return " ".join(toks)


def write_parquet(df: pd.DataFrame, schema: pa.Schema, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` round-robin part files (no pandas metadata,
    so the bytes depend only on the rows)."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        part = df.iloc[i::n_files]
        table = pa.Table.from_arrays(
            [pa.array(part[f.name].tolist(), type=f.type) for f in schema], schema=schema
        )
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------- snapshot
def snapshot(seed: int) -> pd.DataFrame:
    """Webtext snapshot whose pages each join several make_webtext bodies,
    so page length spans well past the UDF's 512-char scoring cap."""
    bodies = make_webtext(SNAPSHOT_BODIES, seed=seed)
    rng = np.random.default_rng([seed, 1])
    rows, i, page = [], 0, 0
    while i < len(bodies):
        k = int(rng.integers(*PAGE_BODIES))
        grp = bodies.iloc[i:i + k]
        i += k
        first = grp.iloc[0]
        host = first["url"].split("/")[2]
        rows.append({
            "url": f"https://{host}/snap/{page:06d}",
            "warc_ts": first["warc_ts"],
            "html": _page_html(f"Page {page} — {host}", f"Page number {page}",
                               "".join(_body_html(t) for t in grp["text"])),
            "text": "\n".join(grp["text"]),
            "lang": first["lang"],
        })
        page += 1
    return pd.DataFrame(rows)


# ---------------------------------------------------------------- corpus
_SPAM_TEMPLATE = (
    "Limited offer buy cheap {0} online today with free shipping to every "
    "country and a full money back guarantee on all {0} orders placed before "
    "midnight visit our {1} store now for the best deals on the web and join "
    "thousands of happy customers who already saved big on {0} this season "
    "terms and conditions apply see store for details and exclusions"
)
_SPAM_SLOTS = ["watches", "sneakers", "phones", "laptops", "handbags", "perfume",
               "tablets", "cameras", "headphones", "jackets", "glasses", "wallets"]


@dataclass
class Corpus:
    docs: pd.DataFrame      # doc_id, text
    injected: set[int]      # ids a perfect dedup removes


def corpus(seed: int) -> Corpus:
    """Documents with injected exact copies, one-token edits and template-spam
    clusters. Every injected group keeps its lowest id, which is the doc the
    minhash policy keeps; all other members are ground-truth duplicates."""
    base = make_webtext(CORPUS_BASE_DOCS, seed=seed)["text"].tolist()
    rng = np.random.default_rng([seed, 3])
    groups: list[list[str]] = [[t] for t in base]
    long_idx = [i for i, t in enumerate(base) if t.count(" ") >= NEARDUP_MIN_TOKENS]
    n_exact = int(CORPUS_BASE_DOCS * CORPUS_EXACT_SHARE)
    n_edit = int(CORPUS_BASE_DOCS * CORPUS_EDIT_SHARE)
    for i in rng.choice(CORPUS_BASE_DOCS, n_exact, replace=False):
        groups[i].append(base[i])
    for j, i in enumerate(rng.choice(long_idx, n_edit, replace=False)):
        groups[i].append(_one_token_edit(base[i], rng, f"edit{j}"))
    for c in range(SPAM_CLUSTERS):
        # members differ only in the shop slot and a reference suffix
        product = _SPAM_SLOTS[c % len(_SPAM_SLOTS)]
        size = int(rng.integers(*SPAM_CLUSTER_SIZE))
        groups.append([_SPAM_TEMPLATE.format(product, f"shop{c}x{k}") + f" ref {k}"
                       for k in range(size)])
    texts = [t for g in groups for t in g]
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    injected, pos = set(), 0
    for g in groups:
        gid = ids[pos:pos + len(g)]
        pos += len(g)
        if len(g) > 1:
            injected |= {int(x) for x in gid if x != gid.min()}
    docs = pd.DataFrame({"doc_id": ids, "text": texts}).sort_values("doc_id")
    return Corpus(docs=docs.reset_index(drop=True), injected=injected)
