"""Independent pure-Python recomputation of the KG triples, and the
order-insensitive digest the timed passes compare.

The golden follows the extraction semantics the engine documents (and
`tests/test_pipeline.py` pins on a 120-row fixture): drop empty and
"~$" files, keep the latest commit per (repo, path), clean and
preprocess, run the regex model and both gazetteers, link each mention
through the alias dictionary (prior, +0.5 on a label match), merge
entities whose normalised canonical forms agree, and emit the four
triple kinds. It shares no code with the Spark path beyond the text
normalisers and the static config tables.
"""

from __future__ import annotations

import hashlib
import re

from mel_tnnt_spark.config import (
    ALIAS_DICT,
    GAZETTEER_CONLL,
    GAZETTEER_ONTO,
    LABEL_CLASSIFICATION,
    REGEX_MODEL_PATTERNS,
)
from mel_tnnt_spark.functions.text import py_clean_text, py_preprocess_text


def _doc_id(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(f"{repo}|{path}|{commit}".encode()).hexdigest()


def latest_docs(rows) -> dict[str, tuple[str, str]]:
    """doc_id -> (repo, content) for the latest processable version of
    each (repo, path)."""
    best: dict[tuple[str, str], tuple] = {}
    for repo, path, commit, _lang, content, _sha, ts in rows:
        if not content or path.rsplit("/", 1)[-1].startswith("~$"):
            continue
        rank = (ts, commit, _doc_id(repo, path, commit))
        if (repo, path) not in best or rank > best[(repo, path)][0]:
            best[(repo, path)] = (rank, repo, content)
    return {rank[2]: (repo, content) for rank, repo, content in best.values()}


def _mentions(text: str):
    for cat, pat in REGEX_MODEL_PATTERNS.items():
        for m in re.finditer(pat, text):
            yield "regex_model", cat, m.group(0)
    for model, gaz in (
        ("gazetteer_conll_model", GAZETTEER_CONLL),
        ("gazetteer_onto_model", GAZETTEER_ONTO),
    ):
        for surface, cat in gaz.items():
            off = text.find(surface)
            while off >= 0:
                yield model, cat, surface
                off = text.find(surface, off + len(surface))


def golden_triples(rows) -> set[tuple[str, str, str]]:
    label_of = {
        (model, raw): tnnt
        for tnnt, by_model in LABEL_CLASSIFICATION.items()
        for model, raw in by_model.items()
    }
    cands: dict[str, list[dict]] = {}
    for d in ALIAS_DICT:
        cands.setdefault(d["alias"], []).append(d)

    docs = latest_docs(rows)
    linked = set()
    for did, (_repo, content) in docs.items():
        text = py_preprocess_text(py_clean_text(content))
        for model, cat, surface in _mentions(text):
            if surface not in cands:
                continue
            tnnt = label_of.get((model, cat))
            best = max(
                cands[surface],
                key=lambda d: (
                    round(d["prior"] + (0.5 if d["tnnt_label"] == tnnt else 0.0), 6),
                    d["entity_id"],
                    d["canonical"],
                    d["tnnt_label"],
                ),
            )
            linked.add((did, best["entity_id"], best["canonical"], best["tnnt_label"]))

    root: dict[str, str] = {}
    for _did, eid, canonical, _label in linked:
        key = re.sub("[^a-z0-9]", "", canonical.lower())
        root[key] = min(root.get(key, eid), eid)
    comp = {
        eid: root[re.sub("[^a-z0-9]", "", canonical.lower())]
        for _did, eid, canonical, _label in linked
    }

    out = set()
    for did, eid, canonical, label in linked:
        out.add((did, "tnnt:mentions", comp[eid]))
        out.add((comp[eid], "rdf:type", label))
        out.add((comp[eid], "tnnt:label", canonical))
    for did, (repo, _content) in docs.items():
        out.add((did, "tnnt:partOf", repo))
    return out


def precision_recall(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return (tp / len(got) if got else 1.0), (tp / len(want) if want else 1.0)


def spark_digest(df, cols=("subj", "pred", "obj")) -> tuple[int, int]:
    """(row count, sum of xxhash64(*cols)) — equal for equal bags of
    rows whatever their order or file layout. The sum is taken as a
    decimal so it cannot overflow under ANSI mode."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)
