"""Deterministic synthetic corpus of interleaved text+media documents.

Generates GROBID-TEI-shaped XML documents purely from the doc_id (seeded
``random.Random`` per document — no external data, no global state), then
decomposes each into the pipeline's input representation
``(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`` per
BASELINE.json's input_hint: the XML is cut into several ``kind='text'``
spans and 0-3 opaque ``kind='media'`` spans are interleaved.

Because every row is a pure function of (doc_id, profile), generation can
run distributed (mapInPandas over ``spark.range``) and is reproducible at
any scale — the property that lets the sandbox stand in for the 10^12-doc
Iceberg corpus.  The size distribution is log-normal-ish with a deliberate
1% tail of oversized documents (~20-40x median) to exercise the skew/
salting path, and ~1% malformed documents to exercise the error path.

CLI: ``python -m tei_chunker_spark.corpus --out /tmp/corpus --docs 2000``
"""
from __future__ import annotations

import random
from typing import Dict, Iterable, List

_WORDS = (
    "model data span table figure method result neural graph query shuffle "
    "partition latent vector corpus markov entropy kernel tensor gradient "
    "sampling posterior likelihood stochastic convex sparse lattice prior "
    "embedding attention decoder encoder token chunk section abstract "
    "der die das und mit für les des une pour dans el la los para con"
).split()

_MEDIA_KINDS = ("fig", "tbl", "img")


def _rng(doc_id: str, profile: str) -> random.Random:
    return random.Random(f"tei-corpus/{profile}/{doc_id}")


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _paragraph(rng: random.Random, scale: float) -> str:
    n = max(3, int(rng.lognormvariate(3.0, 0.6) * scale))
    parts = [_sentence(rng, n)]
    if rng.random() < 0.25:
        parts.append(f"<formula>{_sentence(rng, rng.randint(1, 4))}</formula> {_sentence(rng, 3)}")
    if rng.random() < 0.3:
        parts.append(f"as shown in <ref>{rng.randint(1, 60)}</ref> {_sentence(rng, 2)}")
    return "<p>" + " ".join(parts) + "</p>"


def _div(rng: random.Random, depth: int, scale: float) -> str:
    pieces: List[str] = []
    r = rng.random()
    if r < 0.8:
        pieces.append(f"<head>{_sentence(rng, rng.randint(1, 6)).title()}</head>")
    elif r < 0.88:
        pieces.append("<head/>")
    for _ in range(rng.randint(1, 4)):
        pieces.append(_paragraph(rng, scale))
    if rng.random() < 0.2:
        pieces.append(f"<formula>{_sentence(rng, 3)}</formula>")
    if rng.random() < 0.15:
        pieces.append(f"<figure><figDesc>{_sentence(rng, 5)}</figDesc></figure>")
    if depth < 3:
        for _ in range(rng.randint(0, 3 - depth)):
            pieces.append(_div(rng, depth + 1, scale))
    return "<div>" + "".join(pieces) + "</div>"


def synth_tei(doc_id: str, profile: str = "default") -> str:
    """Render one deterministic TEI XML document for ``doc_id``."""
    rng = _rng(doc_id, profile)
    if rng.random() < 0.01:  # malformed tail: parse error -> zero text spans
        return "<TEI><unclosed " + _sentence(rng, 5)
    scale = 1.0
    if rng.random() < 0.01:  # oversized skew tail
        scale = rng.uniform(20.0, 40.0)
    abstract = ""
    if rng.random() < 0.7:
        abstract = (
            "<teiHeader><profileDesc><abstract><div><p>"
            + _sentence(rng, rng.randint(15, 60))
            + "</p></div></abstract></profileDesc></teiHeader>"
        )
    n_top = rng.randint(1, 6)
    body = "".join(_div(rng, 1, scale) for _ in range(n_top))
    return (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0">'
        + abstract
        + "<text><body>"
        + body
        + "</body></text></TEI>"
    )


def doc_to_row(doc_id: str, profile: str = "default") -> Dict:
    """One input-table row: the XML cut into text spans + interleaved media."""
    rng = random.Random(f"tei-spans/{profile}/{doc_id}")
    xml = synth_tei(doc_id, profile)
    n_cuts = rng.randint(0, 5)
    cuts = sorted(rng.sample(range(1, len(xml)), min(n_cuts, len(xml) - 1))) if len(xml) > 2 else []
    pieces = []
    prev = 0
    for c in cuts + [len(xml)]:
        pieces.append(xml[prev:c])
        prev = c
    spans: List[Dict] = []
    offset = 0
    for i, piece in enumerate(pieces):
        spans.append({"kind": "text", "text": piece, "media_ref": None, "offset": offset})
        offset += 1
        if rng.random() < 0.3 and len(spans) < len(pieces) + 3:
            kind = rng.choice(_MEDIA_KINDS)
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": f"{kind}://{doc_id}/{offset}",
                    "offset": offset,
                }
            )
            offset += 1
    return {"doc_id": doc_id, "spans": spans}


def make_rows(doc_ids, profile: str = "default") -> List[Dict]:
    """Driver-side generation for tests/small fixtures."""
    return [doc_to_row(str(d), profile) for d in doc_ids]


INPUT_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def row_frame(doc_ids: Iterable[str], profile: str = "default"):
    """Input rows for ``doc_ids`` as the pandas frame ``mapInPandas``
    emits for INPUT_SCHEMA_DDL (spans as struct tuples)."""
    import pandas as pd  # local import: executors only

    rows = [doc_to_row(d, profile) for d in doc_ids]
    return pd.DataFrame(
        {
            "doc_id": [r["doc_id"] for r in rows],
            "spans": [
                [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
                for r in rows
            ],
        }
    )


def corpus_df(spark, n_docs: int, profile: str = "default", id_prefix: str = "doc"):
    """Distributed corpus as a DataFrame — generation is embarrassingly
    parallel (pure function of doc_id), so it scales with the cluster."""

    def gen(batches):
        for pdf in batches:
            yield row_frame((f"{id_prefix}-{int(i):012d}" for i in pdf["id"]), profile)

    n_parts = max(8, min(256, n_docs // 256 or 1))
    return spark.range(0, n_docs, numPartitions=n_parts).mapInPandas(gen, INPUT_SCHEMA_DDL)


def write_corpus(spark, out_path: str, n_docs: int, profile: str = "default") -> None:
    corpus_df(spark, n_docs, profile).write.mode("overwrite").parquet(out_path)


def _main() -> None:
    import argparse

    from .sources.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--profile", default="default")
    args = ap.parse_args()
    spark = get_spark("tei-corpus")
    write_corpus(spark, args.out, args.docs, args.profile)
    print(f"wrote {args.docs} docs to {args.out}")


if __name__ == "__main__":
    _main()
