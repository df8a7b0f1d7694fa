"""Dev-time parity check: our core vs the actual reference implementation.

Generates a battery of adversarial TEI documents (plus the reference's own
fixtures) and asserts chunk_tei() output is char-for-char equal to
HierarchicalChunker.parse_grobid_xml + chunk_document, across several
(max_chunk_size, overlap_size) configs including degenerate ones.

Run: python scripts/parity_check.py
"""
from __future__ import annotations

import os
import random
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sys.path.insert(0, "/root/reference")

from tei_chunker_spark.config import ChunkerConfig  # noqa: E402
from tei_chunker_spark.core import chunk_tei  # noqa: E402

F1 ="""<?xml version="1.0" encoding="UTF-8"?>
<TEI xmlns="http://www.tei-c.org/ns/1.0">
    <teiHeader><fileDesc><titleStmt><title>Test Paper</title></titleStmt></fileDesc></teiHeader>
    <text><body>
        <div><head>Introduction</head><p>Test introduction content.</p><formula>E = mc^2</formula></div>
        <div><head>Methods</head><p>Test methods content.</p></div>
    </body></text>
</TEI>"""

F2 = """<?xml version="1.0" encoding="UTF-8"?>
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader/>
  <text><body>
    <div><head>Introduction</head><p>This is an introduction paragraph.</p><p>This is another paragraph.</p>
      <div><head>Background</head><p>Some background information.</p><formula>E = mc^2</formula></div>
    </div>
    <div><head>Methods</head><p>Our methodology is described here.</p>
      <div><head>Data Collection</head><p>We collected data as follows.</p></div>
      <div><head>Analysis</head><p>Analysis was performed using...</p></div>
    </div>
  </body></text>
</TEI>"""

EDGE = [
    # abstract with ref, nested divs
    """<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><profileDesc><abstract>
       <div><p>We study things <ref>1</ref> deeply.</p></div><div><p>Second abstract para.</p></div>
       </abstract></profileDesc></teiHeader><text><body><div><head>S</head><p>Body.</p></div></body></text></TEI>""",
    # p-nested formula, empty formula, tails
    """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body><div><head>X</head>
       <p>Before <formula>x+y</formula> after.</p><p>After <formula/>.</p></div></body></text></TEI>""",
    # no head / empty head / head with child
    """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body>
       <div><p>no head here</p></div><div><head/><p>empty head</p></div>
       <div><head>Part <hi>One</hi></head><p>partial head</p></div></body></text></TEI>""",
    # figure at div level and inside p
    """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body><div><head>F</head>
       <figure><figDesc>dropped figure</figDesc></figure>
       <p>with <figure><figDesc>inline fig</figDesc></figure> inside</p>
       <formula>a=b</formula><table><row>nope</row></table></div></body></text></TEI>""",
    # malformed
    "<invalid>xml",
    # empty body
    """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body/></text></TEI>""",
    # whitespace-heavy, newlines inside text nodes
    """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body><div><head>  W  </head>
       <p>
         line one
         line two  <ref> r1 </ref>   tail text
       </p></div></body></text></TEI>""",
    # no namespace at all (reference finds nothing)
    """<TEI><text><body><div><head>NoNS</head><p>hi</p></div></body></text></TEI>""",
]

WORDS = (
    "the quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    "consectetur adipiscing elit sed do eiusmod tempor incididunt ut labore "
    "supercalifragilisticexpialidocious x yy zzz"
).split()


def rand_doc(rng: random.Random) -> str:
    def para() -> str:
        n = rng.randint(0, 60)
        parts = [" ".join(rng.choice(WORDS) for _ in range(n))]
        if rng.random() < 0.3:
            parts.append(f"<formula>{' '.join(rng.choice(WORDS) for _ in range(rng.randint(0,3)))}</formula> tail")
        if rng.random() < 0.3:
            parts.append(f"see <ref>{rng.randint(1,40)}</ref> too")
        if rng.random() < 0.15:
            parts.append("<figure><figDesc>inline fig desc</figDesc></figure>")
        return "<p>" + " ".join(parts) + "</p>"

    def div(depth: int) -> str:
        head = ""
        r = rng.random()
        if r < 0.7:
            head = f"<head>{' '.join(rng.choice(WORDS) for _ in range(rng.randint(1,5)))}{' ' if rng.random()<0.3 else ''}</head>"
        elif r < 0.8:
            head = "<head/>"
        inner = [head]
        for _ in range(rng.randint(0, 4)):
            inner.append(para())
        if rng.random() < 0.25:
            inner.append(f"<formula>{rng.choice(WORDS)} = {rng.choice(WORDS)}</formula>")
        if rng.random() < 0.15:
            inner.append("<figure><figDesc>div fig</figDesc></figure>")
        if depth < 4:
            for _ in range(rng.randint(0, 3 if depth < 3 else 1)):
                inner.append(div(depth + 1))
        return "<div>" + "".join(inner) + "</div>"

    abstract = ""
    if rng.random() < 0.5:
        abstract = f"<teiHeader><profileDesc><abstract><div><p>{' '.join(rng.choice(WORDS) for _ in range(rng.randint(0,40)))} <ref>9</ref></p></div></abstract></profileDesc></teiHeader>"
    body = "".join(div(1) for _ in range(rng.randint(0, 5)))
    return (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0">'
        + abstract
        + "<text><body>"
        + body
        + "</body></text></TEI>"
    )


# The seeded battery of tests/test_reference_parity.py, also frozen as
# digests by tests/test_parity_digests.py: per config, the fixtures and
# 60 random documents from a config-derived seed.
BATTERY_CONFIGS = [(20000, 200), (500, 50), (100, 50), (100, 200), (80, 5), (137, 55), (1, 10)]


def battery(max_chunk_size: int, overlap_size: int) -> list:
    rng = random.Random(1234 + max_chunk_size * 7 + overlap_size)
    return [F1, F2, *EDGE] + [rand_doc(rng) for _ in range(60)]


def main() -> None:
    # The reference imports loguru, which may be absent; stub it.
    if "loguru" not in sys.modules:
        stub = types.ModuleType("loguru")

        class _L:
            def __getattr__(self, name):
                return lambda *a, **k: None

        stub.logger = _L()
        sys.modules["loguru"] = stub
    from tei_chunker.chunking import HierarchicalChunker

    rng = random.Random(20260816)
    docs = [F1, F2, *EDGE] + [rand_doc(rng) for _ in range(400)]
    configs = [
        (20000, 200),
        (500, 50),
        (100, 50),
        (100, 200),
        (60, 0),      # [-0:] pathology... careful, can explode; small docs only
        (80, 5),      # -5//10 = -1 -> carry one word
        (137, 55),    # -55//10 = -6 -> carry six words
        (1, 10),      # absurd: every word oversized
    ]
    n_checked = 0
    for mi, (mx, ov) in enumerate(configs):
        ref = HierarchicalChunker(max_chunk_size=mx, overlap_size=ov)
        cfg = ChunkerConfig(max_chunk_size=mx, overlap_size=ov)
        for di, doc in enumerate(docs):
            if ov == 0 and len(doc) > 3000:
                continue  # pathological config: quadratic growth, keep it bounded
            expected = ref.chunk_document(ref.parse_grobid_xml(doc))
            actual = chunk_tei(doc, cfg)
            if expected != actual:
                print(f"MISMATCH config=({mx},{ov}) doc#{di}")
                print("DOC:", doc[:500])
                for i, (e, a) in enumerate(zip(expected, actual)):
                    if e != a:
                        print(f"chunk {i}:\nEXP: {e!r}\nACT: {a!r}")
                        break
                print(f"len exp={len(expected)} act={len(actual)}")
                sys.exit(1)
            n_checked += 1
    print(f"PARITY OK: {n_checked} (doc, config) pairs char-identical")


if __name__ == "__main__":
    main()
