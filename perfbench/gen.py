"""Seeded, single-process input generators for the workloads.

Each generator is a pure function of its seed: the same seed gives
byte-identical parquet. Totals are stratified (fixed turn count, fixed
counts per payload family and per pdflike scenario) and the seed only
permutes and fills them, so two seeds cost about the same work and a
run-to-run difference is mostly the system, not the draw.

The seed may be any integer: every numpy stream is seeded from a hash
of it (``sub_seed``), so large or negative seeds work like small ones.

Inputs are cached on disk under ``<cache>/<workload>-s<seed>-g<version>``.
The extraction oracle (single-process ``parse_payload`` output per turn)
is computed once at generation and cached beside the input; the program
under test only ever receives ``input.parquet``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pandas as pd

from bella_domify_spark import synthdocs
from bella_domify_spark.synthdocs import (
    _Rng,
    gen_docxlike,
    gen_htmllike,
    gen_markdown,
    gen_pdflike,
    gen_plaintext,
    gen_pptxlike,
    gen_xlsxlike,
)

GEN_VERSION = f"3.{synthdocs.GEN_VERSION}"

# gen_corpus's family mix, as exact per-mille counts
MIX = (("none", 10), ("empty", 10), ("plaintext", 440), ("htmllike", 60),
       ("markdown", 200), ("pdflike", 150), ("docxlike", 70),
       ("xlsxlike", 30), ("pptxlike", 30))
_FAMILY = {"plaintext": gen_plaintext, "htmllike": gen_htmllike,
           "markdown": gen_markdown, "docxlike": gen_docxlike,
           "xlsxlike": gen_xlsxlike, "pptxlike": gen_pptxlike}

SIZES = {
    # workload -> size knobs; "tiny" variants back the self-test smoke runs
    "extract_mixed": {"turns": 4000},
    "analytics_dedup": {"docs": 300},
}
TINY = {
    "extract_mixed": {"turns": 200},
    "analytics_dedup": {"docs": 60},
}

_BASE_TS = dt.datetime(2026, 1, 1)


def sub_seed(seed: int, *salt) -> int:
    """A seed in numpy's range [0, 2**32) for the stream named by ``salt``,
    derived from any integer ``seed``."""
    digest = hashlib.sha256(repr((int(seed),) + salt).encode()).digest()
    return int.from_bytes(digest[:4], "little")


def _stratified(seed: int, n: int, parts) -> list:
    """``n`` labels in the exact proportions of ``parts`` (name, weight),
    seeded order."""
    total = sum(w for _, w in parts)
    labels = []
    for name, w in parts:
        labels += [name] * (n * w // total)
    labels += [parts[0][0]] * (n - len(labels))
    np.random.RandomState(seed).shuffle(labels)
    return labels


def _conv_lengths(seed: int, n_turns: int) -> list:
    """Zipf(1.2) conversation lengths clamped to [1, 256], summing to
    exactly ``n_turns``."""
    rng = np.random.RandomState(seed)
    out, left = [], n_turns
    while left > 0:
        n = min(int(np.clip(rng.zipf(1.2), 1, 256)), left)
        out.append(n)
        left -= n
    return out


def _transcripts(seed: int, payloads: list) -> pd.DataFrame:
    """Wrap payloads into shuffled transcript rows (input_hint schema)."""
    rows, i = [], 0
    for ci, length in enumerate(_conv_lengths(sub_seed(seed, "lengths"),
                                              len(payloads))):
        for ti in range(length):
            text = payloads[i]
            i += 1
            rows.append({
                "conv_id": f"conv{ci:08d}",
                "turn_idx": np.int32(ti),
                "role": ("user", "assistant", "tool")[ti % 3],
                "text": text,
                "tool": "doc_upload" if (text or "").startswith(
                    ('{"pages"', '{"sheets"', '{"slides"', "<w:document"))
                else "",
                "ts": _BASE_TS + dt.timedelta(seconds=ci * 3600 + ti * 7),
            })
    df = pd.DataFrame(rows)
    df["ts"] = df["ts"].astype("datetime64[us]")  # Spark rejects NANOS
    perm = np.random.RandomState(sub_seed(seed, "order")).permutation(
        len(df))
    return df.iloc[perm].reset_index(drop=True)


def _pdflike_rng(seed: int, i: int, scenario: int) -> _Rng:
    """The first ``_Rng`` of turn ``i``'s seed sequence whose first draw
    makes ``gen_pdflike`` pick ``scenario``. The scenarios differ
    several-fold in parse cost, so their counts are stratified like the
    families'."""
    attempt = 0
    while True:
        k = sub_seed(seed, "payload", i, attempt)
        if np.random.RandomState(k).randint(0, PDF_SCENARIOS) == scenario:
            return _Rng(k)
        attempt += 1


PDF_SCENARIOS = 8  # gen_pdflike: scenario = rng.randint(0, 8), drawn first


def gen_mixed(seed: int, turns: int) -> pd.DataFrame:
    """The gen_corpus family mix over exactly ``turns`` turns."""
    fams = _stratified(sub_seed(seed, "families"), turns, MIX)
    scenarios = iter(_stratified(sub_seed(seed, "scenarios"),
                                 fams.count("pdflike"),
                                 [(i, 1) for i in range(PDF_SCENARIOS)]))
    payloads = []
    for i, fam in enumerate(fams):
        if fam == "none":
            payloads.append(None)
        elif fam == "empty":
            payloads.append("")
        elif fam == "pdflike":
            payloads.append(gen_pdflike(_pdflike_rng(seed, i,
                                                     next(scenarios))))
        else:
            payloads.append(_FAMILY[fam](_Rng(sub_seed(seed, "payload",
                                                       i))))
    return _transcripts(seed, payloads)


DOC_WORDS = ("join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream window "
             "a spark part group big sort query fast the").split()
LANGS = (("en", 44), ("zh", 14), ("es", 14), ("de", 14), ("fr", 14))


def gen_documents(seed: int, docs: int) -> pd.DataFrame:
    """The test data's ``documents`` table shape: random 10-99 word texts
    over a 30-word vocabulary, 1 in 10 a near-copy (one word changed, ``dup``
    appended) of one of the first 8 documents, so the pair queries have
    hits and the copies of one template form dense communities."""
    rng = np.random.RandomState(sub_seed(seed, "documents"))
    texts = []
    for i in range(docs):
        if i >= 8 and i % 10 == 7:
            words = texts[int(rng.randint(0, 8))].split()
            words[int(rng.randint(0, len(words)))] = \
                DOC_WORDS[int(rng.randint(0, len(DOC_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.randint(10, 100))
            texts.append(" ".join(DOC_WORDS[j] for j in
                                  rng.randint(0, len(DOC_WORDS), n)))
    return pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": _stratified(sub_seed(seed, "langs"), docs, LANGS),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def expected_of(df: pd.DataFrame) -> pd.DataFrame:
    """Single-process oracle: ``parse_payload`` per turn."""
    from bella_domify_spark.parsers.dispatch import parse_payload

    recs = [parse_payload(t if isinstance(t, str) else None)
            for t in df["text"]]
    exp = df[["conv_id", "turn_idx"]].copy()
    for col in ("extracted_text", "fmt", "status"):
        exp[col] = [r[col] for r in recs]
    return exp


def generate(workload: str, seed: int, sizes: dict) -> dict:
    """name -> DataFrame of every file the workload reads."""
    if workload == "extract_mixed":
        df = gen_mixed(seed, **sizes)
    elif workload == "analytics_dedup":
        return {"documents": gen_documents(seed, **sizes)}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return {"input": df, "expected": expected_of(df)}


def ensure_inputs(cache_root: str, workload: str, seed: int,
                  tiny: bool = False) -> str:
    """Directory holding ``<name>.parquet`` for every generated table,
    built on first use for (workload, seed, GEN_VERSION, size)."""
    tag = "-tiny" if tiny else ""
    path = os.path.join(cache_root,
                        f"{workload}-s{seed}-g{GEN_VERSION}{tag}")
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes = (TINY if tiny else SIZES)[workload]
    for name, df in generate(workload, seed, sizes).items():
        df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, path)
    return path
