"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: one
``random.Random`` stream per input file, seeded with a string (stable
across processes and Python versions), or the program's own md5-keyed page
composer, so the same seed always writes the same bytes.  Generation runs in plain Python + pyarrow, before any Spark session
exists, and its output is cached under the checkout (``perfbench/.inputs``)
so it never falls inside a timed window.

Two shapes of web pages (parquet, ``url, warc_ts, html, text, lang``):

* ``uniform`` — the program's own ``sources.pages`` pages: every page carries
  relation cues, entities are picked uniformly from the knowledge base.
* ``crawl``   — the same page layout, but most pages carry no relation cue at
  all, and entity picks are Zipf-skewed so a few hub entities dominate the
  triples.

Both emit the exact gold: a multiset of ``(subj_uid, pred, obj_uid)``
relation instances, which equals the ``n_support`` a correct pipeline
reports for each triple.

One PubTator corpus (CDR shape) with a MeSH tree TSV: title/abstract
blocks, mention lines with alias coreference, 7-column compound lines,
``-1`` (ungrounded) uids, malformed 5-column mention lines, duplicate and
unknown-uid relation lines, and hypernym chains in the tree table so the
negative filter has work to do.

The rates of the crawl shape and of the corpus's edge cases are stress
parameters: chosen so that every code path has work, not measured from real
crawls or from the BC5CDR corpus.  Each run records the measured shares.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import random
import shutil
from concurrent.futures import ProcessPoolExecutor
from bisect import bisect_left
from collections import Counter
from datetime import datetime, timezone
from typing import Dict, List, Tuple

# --- web pages ---------------------------------------------------------------


def _kb():
    """The program's own entity dictionary and predicates — pages must name
    the entities the pipeline links against."""
    from seq2rel_ds_spark.sources.pages import PREDICATES, knowledge_base

    entities, _ = knowledge_base()
    drugs = [e for e in entities if e["label"] == "DRUG"]
    diseases = [e for e in entities if e["label"] == "DISEASE"]
    return entities, drugs, diseases, PREDICATES


def dictionary_rows() -> List[tuple]:
    """(surface, uid, label, is_canonical) rows of the program's dictionary."""
    entities, _, _, _ = _kb()
    return [
        (s, e["uid"], e["label"], i == 0)
        for e in entities
        for i, s in enumerate(e["surfaces"])
    ]


def _zipf_cdf(n: int, s: float) -> List[float]:
    w = [1.0 / (r + 1) ** s for r in range(n)]
    total = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / total
        out.append(acc)
    out[-1] = 1.0
    return out


def _compose_crawl(rng, doc_id, drugs, diseases, predicates, with_cues, dcdf, scdf):
    """(title, sentences, gold) of one crawl page: the layout of
    ``pages._compose_doc`` (title, relation sentences, alias sentences,
    filler) with Zipf-picked entities, and no relation sentence at all on a
    cue-free page."""
    from seq2rel_ds_spark.sources.pages import _FILLER

    def pick(items, cdf, k):
        return list({e["uid"]: e for e in (items[bisect_left(cdf, rng.random())] for _ in range(k))}.values())

    picked_d = pick(drugs, dcdf, 1 + rng.randrange(2))
    picked_s = pick(diseases, scdf, 1 + rng.randrange(2))
    preds = sorted(predicates)
    title = f"Report {doc_id} on {picked_d[0]['surfaces'][0]} outcomes."
    sentences, gold = [], []
    if with_cues:
        for d in picked_d:
            for s in picked_s:
                word = preds[rng.randrange(len(preds))]
                sentences.append(f"{d['surfaces'][0]} {word} {s['surfaces'][0]} in most cases.")
                gold.append((d["uid"], predicates[word], s["uid"]))
    for e in picked_d + picked_s:
        sentences.append(f"Records also list {e['surfaces'][1]} under observation.")
    for fi in range(2 + rng.randrange(3)):
        words = [_FILLER[rng.randrange(len(_FILLER))] for _ in range(6 + fi % 3)]
        sentences.append(" ".join(words) + ".")
    return title, sentences, gold


# Stress parameters of the crawl shape, not measured from real crawls: a
# quarter of the pages carry relation cues, so most extraction work finds
# nothing, and entity picks follow Zipf(1.2), so a few hub entities hold
# most triples.  The run records the measured shares (``cue_free_share``,
# ``top_hub_share``).
CRAWL_CUE_SHARE = 0.25
CRAWL_ZIPF_S = 1.2
GEN_TIMEOUT_S = 60  # one file's generation


def _write_page_file(path: str, seed: int, shape: str, doc_ids: range) -> Tuple[Counter, int]:
    """Write one single-row-group parquet file of pages; returns (gold
    instances, cue-free pages) of the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from seq2rel_ds_spark.sources.pages import _compose_doc, _render_html, page_text

    entities, drugs, diseases, predicates = _kb()
    rng = random.Random(f"pages:{shape}:{seed}:{doc_ids.start}")
    dcdf = _zipf_cdf(len(drugs), CRAWL_ZIPF_S)
    scdf = _zipf_cdf(len(diseases), CRAWL_ZIPF_S)
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    gold: Counter = Counter()
    n_cue_free = 0
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for doc_id in doc_ids:
        if shape == "uniform":
            title, sents, g = _compose_doc(doc_id, entities)
        else:
            with_cues = rng.random() < CRAWL_CUE_SHARE
            title, sents, g = _compose_crawl(
                rng, doc_id, drugs, diseases, predicates, with_cues, dcdf, scdf
            )
        n_cue_free += not g
        gold.update(g)
        rows["url"].append(f"https://synth.example/{doc_id}")
        rows["warc_ts"].append(ts)
        rows["html"].append(_render_html(title, sents))
        rows["text"].append(page_text(title, " ".join(sents)))
        rows["lang"].append("en")
    table = pa.table(
        rows,
        schema=pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        ),
    )
    pq.write_table(table, path)
    return gold, n_cue_free


def write_pages(out_dir: str, seed: int, n_docs: int, shape: str, n_files: int):
    """Write ``n_files`` single-row-group parquet files of pages, one file per
    worker process (at most ``min(4, nproc)``, each file its own job, each
    wait bounded); returns (measured input properties, gold as sorted
    [subj, pred, obj, count]).

    ``uniform`` pages are the program's own ``sources.pages`` pages;
    ``crawl`` pages are drawn from a stream seeded with the seed and the
    file.  Doc ids are offset by the seed."""
    base = seed * 10_000_000
    per_file = -(-n_docs // n_files)
    os.makedirs(out_dir, exist_ok=True)
    workers = min(4, len(os.sched_getaffinity(0)), n_files)
    with ProcessPoolExecutor(workers, mp_context=mp.get_context("fork")) as pool:
        futs = [
            pool.submit(
                _write_page_file,
                os.path.join(out_dir, f"part-{f:05d}.parquet"),
                seed,
                shape,
                range(base + f * per_file, base + min(n_docs, (f + 1) * per_file)),
            )
            for f in range(n_files)
        ]
        done = [fut.result(timeout=GEN_TIMEOUT_S) for fut in futs]
    gold: Counter = sum((g for g, _ in done), Counter())
    n_cue_free = sum(n for _, n in done)

    hub_counts: Counter = Counter()
    for (s, _p, o), c in gold.items():
        hub_counts[s] += c
        hub_counts[o] += c
    n_inst = sum(gold.values())
    top_hub, top_n = hub_counts.most_common(1)[0]
    props = {
        "docs": n_docs,
        "bytes": sum(
            os.path.getsize(os.path.join(out_dir, p)) for p in os.listdir(out_dir)
        ),
        "cue_free_share": n_cue_free / n_docs,
        "gold_instances": n_inst,
        "gold_triples": len(gold),
        "top_hub": top_hub,
        "top_hub_share": top_n / n_inst,
    }
    return props, [[s, p, o, c] for (s, p, o), c in sorted(gold.items())]


# --- PubTator CDR corpus -----------------------------------------------------

_CHEM_STEMS = ["zela", "morpa", "brivo", "qorva", "velo", "dasti", "tarmo", "lumi"]
_DIS_STEMS = ["ocular", "renal", "hepatic", "cardiac", "dermal", "neural"]


def _cdr_kb():
    """Chemicals with an alias each; diseases in 3-deep MeSH chains
    (family root -> child -> grandchild) so ancestors exist to filter."""
    chems = []
    for i in range(48):
        stem = _CHEM_STEMS[i % len(_CHEM_STEMS)]
        chems.append(
            {"uid": f"C{i:03d}", "surfaces": [f"{stem}mab{i}", f"{stem[:2].upper()}-{i}"]}
        )
    diseases = []
    for fam in range(16):
        stem = _DIS_STEMS[fam % len(_DIS_STEMS)]
        tree = f"C{fam:02d}"
        for depth, word in enumerate(("disorder", "lesion", "fibrosis")):
            tree = tree if depth == 0 else f"{tree}.{100 * depth + fam}"
            diseases.append(
                {
                    "uid": f"D{fam:02d}{depth}",
                    "tree": tree,
                    "family": fam,
                    "surfaces": [f"{stem} {word} {fam}", f"{stem}-{word[:3]}{fam}"],
                }
            )
    return chems, diseases


# Stress parameters of the corpus, not measured from BC5CDR: the share of
# documents (or of a document's relation lines) carrying each edge case, set
# high enough that every branch of the parser and the filter has work.  The
# run records the measured line mix (``line_mix``).
CDR_RATES = {
    "extra_disease": 0.5,  # a third, unrelated disease in the document
    "title_only": 0.05,  # a document with an empty abstract
    "compound": 0.4,  # a 7-column compound line (documents with 2+ chemicals)
    "ungrounded": 0.3,  # a mention with uid -1
    "malformed": 0.1,  # a 5-column mention line (uid column missing)
    "related": 0.8,  # a non-title chemical that has a CID relation line
    "dup_relation": 0.2,  # a repeated relation line
    "unknown_uid_relation": 0.15,  # a relation line naming an unknown uid
}


class _Doc:
    """Builds title + abstract text while recording exact mention offsets."""

    def __init__(self, pmid: str):
        self.pmid = pmid
        self.parts: List[str] = []
        self.len = 0
        self.lines: List[str] = []

    def text(self, s: str) -> None:
        self.parts.append(s)
        self.len += len(s)

    def mention(self, surface: str, label: str, uid: str) -> None:
        start = self.len
        self.text(surface)
        self.lines.append(f"{self.pmid}\t{start}\t{self.len}\t{surface}\t{label}\t{uid}")


def _cdr_doc(rng: random.Random, pmid: str, chems, diseases, fams) -> Tuple[str, dict]:
    """One PubTator block and its line mix."""
    from seq2rel_ds_spark.sources.pages import _FILLER  # none is a cue word

    r = CDR_RATES
    mix = Counter()
    k_c = 1 + rng.randrange(3)
    doc_chems = rng.sample(chems, k_c)
    fam = fams[rng.randrange(len(fams))]
    chain = [d for d in diseases if d["family"] == fam]
    # a positive on a deep disease and its ancestor mentioned too: the
    # (chem, ancestor) negative is then a hypernym and gets filtered
    deep = chain[1 + rng.randrange(2)]
    doc_dis = [deep, chain[0]]
    if rng.random() < r["extra_disease"]:
        other = diseases[rng.randrange(len(diseases))]
        if other["uid"] not in {d["uid"] for d in doc_dis}:
            doc_dis.append(other)

    d = _Doc(pmid)
    d.mention(doc_chems[0]["surfaces"][0], "Chemical", doc_chems[0]["uid"])
    d.text(" linked to ")
    d.mention(deep["surfaces"][0], "Disease", deep["uid"])
    d.text(f" in cohort {pmid}.")
    title_len = d.len
    title = "".join(d.parts)
    d.parts, d.len = [], title_len + 1  # document offsets span "title abstract"
    if rng.random() < r["title_only"]:
        mix["title_only"] += 1
    else:
        for c in doc_chems:
            d.text("Patients given ")
            # alias coreference: the second surface maps to the same uid
            d.mention(c["surfaces"][rng.randrange(2)], "Chemical", c["uid"])
            d.text(" developed ")
            dis = doc_dis[rng.randrange(len(doc_dis))]
            d.mention(dis["surfaces"][rng.randrange(2)], "Disease", dis["uid"])
            d.text(". ")
        for dis in doc_dis:
            d.text("Broader ")
            d.mention(dis["surfaces"][0], "Disease", dis["uid"])
            d.text(" was also observed. ")
        if len(doc_chems) >= 2 and rng.random() < r["compound"]:
            a, b = doc_chems[0], doc_chems[1]
            d.text("The ")
            start = d.len
            d.text(f"{a['surfaces'][0]} / {b['surfaces'][0]} mixture")
            d.lines.append(
                f"{pmid}\t{start}\t{d.len}\t{a['surfaces'][0]} / {b['surfaces'][0]} mixture"
                f"\tChemical\t{a['uid']}|{b['uid']}\t{a['surfaces'][0]}|{b['surfaces'][0]}"
            )
            mix["compound"] += 1
            d.text(" amplified episodes. ")
        if rng.random() < r["ungrounded"]:
            d.text("Plain ")
            d.mention("saline", "Chemical", "-1")
            mix["ungrounded"] += 1
            d.text(" produced no effect. ")
        if rng.random() < r["malformed"]:
            start = d.len
            d.text("placebo")
            # malformed: the uid column is missing
            d.lines.append(f"{pmid}\t{start}\t{d.len}\tplacebo\tChemical")
            mix["malformed"] += 1
            d.text(" arm. ")
        d.text(" ".join(_FILLER[rng.randrange(len(_FILLER))] for _ in range(8)) + ".")
    abstract = "".join(d.parts)
    rels = []
    for c in doc_chems:
        if rng.random() < r["related"] or c is doc_chems[0]:
            rels.append(f"{pmid}\tCID\t{c['uid']}\t{deep['uid']}")
    if rng.random() < r["dup_relation"]:
        rels.append(rels[0])
        mix["dup_relation"] += 1
    if rng.random() < r["unknown_uid_relation"]:
        rels.append(f"{pmid}\tCID\tC999\t{deep['uid']}")
        mix["unknown_uid_relation"] += 1
    mix["mention"] += sum(1 for ln in d.lines if ln.count("\t") == 5)
    mix["relation"] += len(rels)
    block = "\n".join([f"{pmid}|t|{title}", f"{pmid}|a|{abstract}"] + d.lines + rels)
    return block, mix


def write_cdr(out_dir: str, seed: int, n_docs: int):
    """train.pubtator / test.pubtator (split by doc id parity) + mesh.tsv;
    returns (measured input properties, None)."""
    chems, diseases = _cdr_kb()
    rng = random.Random(f"cdr:{seed}")
    fams = sorted({d["family"] for d in diseases})
    os.makedirs(out_dir, exist_ok=True)
    blocks: Dict[str, List[str]] = {"train": [], "test": []}
    mix: Counter = Counter()
    base = 10_000_000 + seed * 1_000_000
    for i in range(n_docs):
        block, m = _cdr_doc(rng, str(base + i), chems, diseases, fams)
        blocks["train" if i % 2 == 0 else "test"].append(block)
        mix.update(m)
    for name, bs in blocks.items():
        with open(os.path.join(out_dir, f"{name}.pubtator"), "w") as fh:
            fh.write("\n\n".join(bs) + "\n")
    with open(os.path.join(out_dir, "mesh.tsv"), "w") as fh:
        fh.write("tree_numbers\tmesh_uid\tname\n")
        for dis in diseases:
            fh.write(f"{dis['tree']}\t{dis['uid']}\t{dis['surfaces'][0]}\n")
    title_only = mix.pop("title_only", 0)  # documents, not lines
    total = sum(mix.values())
    props = {
        "docs": n_docs,
        "docs_train": len(blocks["train"]),
        "docs_test": len(blocks["test"]),
        "bytes": sum(os.path.getsize(os.path.join(out_dir, p)) for p in os.listdir(out_dir)),
        "line_mix": {k: round(v / total, 4) for k, v in sorted(mix.items())},
        "malformed_lines": mix["malformed"],
        "title_only_share": title_only / n_docs,
    }
    return props, None


# --- cache -------------------------------------------------------------------


def cached(root: str, key: str, make) -> Tuple[str, dict, list]:
    """Directory holding the input for ``key``, generated once per checkout.

    ``make(tmp_dir) -> (props, gold)``; the directory is renamed into place
    only after a complete write, so an interrupted run never leaves a
    half-written input behind a valid name."""
    path = os.path.join(root, key)
    meta = os.path.join(path, "_input.json")
    if not os.path.exists(meta):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        data_dir = os.path.join(tmp, "data")
        props, gold = make(data_dir)
        with open(os.path.join(tmp, "_input.json"), "w") as fh:
            json.dump({"props": props, "gold": gold}, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta) as fh:
        m = json.load(fh)
    return os.path.join(path, "data"), m["props"], m["gold"]
