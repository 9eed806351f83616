"""Seeded input generators with planted ground truth.

Every generator takes a seed and returns plain Python/Arrow data plus
the truth it planted; the library only ever sees the written parquet.
Each input is written once per benchmark process as multi-file parquet
(``N_FILES`` files, several row groups each) so a ``local[n]`` scan
splits across task slots.

Text is built from a combinatorial sentence grammar, so nearly every
document is distinct (the library's own ``synthesize_pages`` draws from a
16-sentence pool and yields only about a hundred distinct texts, which
makes any dedup measurement on it degenerate).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8

# ------------------------------------------------------------ grammar
_DET = ["the", "a", "this", "that", "one"]
_ADJ = ["strange", "rare", "main", "other", "whole", "large", "fine", "late",
        "plain", "real", "tired", "same", "long", "proud", "small", "free",
        "old", "simple"]
_NOUN = ["teacher", "theater", "singer", "father", "mother", "forest",
         "engine", "stranger", "stone", "island", "painter", "table",
         "garage", "miner", "winter", "village", "orchard", "morning",
         "water", "sister", "market", "printer", "road", "sailor", "paper",
         "tower", "office", "chair", "evening", "brother", "mountain",
         "summer", "school", "lantern", "letter", "station", "camera",
         "farmer", "corner", "window", "center", "doctor", "garden", "owner",
         "house"]
_VERB = ["ate", "ran", "read", "rode", "sang", "sat", "worked", "wandered",
         "heard", "came", "went", "rested", "moved", "waited", "watched",
         "traveled", "wrote", "hid", "stood", "listened", "learned", "talked",
         "spoke", "walked", "looked", "slept", "turned", "started"]
_PREP = ["in", "on", "at", "to", "around", "past", "along", "over", "into",
         "from", "inside", "by", "onto", "near", "beside"]
_ADV = ["there", "then", "again", "here", "together", "later", "often",
        "once"]
_CLAUSE = ["and the people of the town were glad",
           "while the rain fell on the roof",
           "because the day was long and the work was hard",
           "so that the children could see the light",
           "and nobody in the house said a word",
           "until the bell rang at the end of the day",
           "as the wind moved through the trees",
           "but the road was still open to the north",
           "when the season changed and the fields were full",
           "and the story was told for many years"]

_DE = [
    "der alte hafen war ruhig und die boote lagen still auf dem wasser",
    "sie ging am ufer entlang und das licht wechselte über den hügeln",
    "ein kleiner markt öffnete am platz und die leute kauften brot",
    "der zug fuhr langsam durch das tal und über die alten brücken",
    "es war nicht spät und die lampen brannten noch in der halle",
    "ein brief kam aus dem norden mit nachrichten von dem fest",
    "der garten wuchs wild aber die wege waren frei",
    "die kinder spielten im park bis die glocke sie nach hause rief",
    "das wetter war kalt und der schnee lag auf den dächern",
    "die stadt ist groß und die straßen sind auch am abend voll",
    "eine alte frau verkaufte blumen an der ecke der straße",
    "der lehrer las ein buch und die klasse hörte still zu",
]
_FR = [
    "le vieux port était calme et les bateaux dormaient sur l'eau",
    "elle marchait le long du rivage pour voir la lumière sur les collines",
    "un petit marché ouvrait près de la place dans la matinée",
    "le train roulait lentement dans la vallée et sur les ponts",
    "une lettre est arrivée du nord avec des nouvelles de la fête",
    "les enfants jouaient dans le parc et la cloche les appelait",
    "nous avons marché dans la forêt pendant que vous dormiez",
    "le boulanger est sorti avec du pain chaud pour les voisins",
    "la neige tombait sur les toits et les rues restaient vides",
    "le professeur lisait un livre et les élèves écoutaient",
    "il est tard et les lampes brillent encore dans la salle",
    "les chemins du jardin restaient clairs pour nous et pour vous",
]
_BOILER = "click here to subscribe to the newsletter"
_JUNK_CHARS = "@#$%^&*()_+{}[]<>~`|\\;=-/"
_TOXIC = ["badword", "curseword", "slurword"]

# benchmark (eval-set) passages draw from a vocabulary disjoint from the
# corpus grammar, so no corpus document shares an 8-gram with them unless
# one was planted
_EVAL_WORDS = ["quantum", "lattice", "photon", "vector", "enzyme", "protein",
               "theorem", "integral", "matrix", "neuron", "isotope", "orbital",
               "genome", "catalyst", "spectrum", "tensor", "molecule",
               "polymer", "fractal", "algebra"]


def _sentence(r: random.Random) -> str:
    s = (f"{r.choice(_DET)} {r.choice(_ADJ)} {r.choice(_NOUN)} "
         f"{r.choice(_VERB)} {r.choice(_PREP)} the {r.choice(_ADJ)} "
         f"{r.choice(_NOUN)} {r.choice(_ADV)}")
    if r.random() < 0.6:
        s += " " + r.choice(_CLAUSE)
    return s


def _prose(r: random.Random, n_min: int = 6, n_max: int = 14) -> str:
    return " ".join(_sentence(r) for _ in range(r.randint(n_min, n_max)))


def _foreign(r: random.Random, pool: list[str]) -> str:
    return " ".join(r.sample(pool, r.randint(7, len(pool))))


def _junk(r: random.Random) -> str:
    return "page not found " + " ".join(
        "".join(r.choice(_JUNK_CHARS) for _ in range(r.randint(3, 8)))
        for _ in range(r.randint(20, 40)))


def _boiler(r: random.Random) -> str:
    return " ".join([_BOILER] * r.randint(25, 50))


def _pii(r: random.Random) -> str:
    email = f"user{r.randint(1, 99999)}@mail{r.randint(1, 99)}.example.com"
    phone = f"{r.randint(200, 999)}-{r.randint(200, 999)}-{r.randint(1000, 9999)}"
    words = _prose(r, 8, 14).split(" ")
    for tok in (f"write to {email}", f"or call {phone}"):
        words.insert(r.randrange(len(words)), tok)
    return " ".join(words)


def _toxic(r: random.Random) -> str:
    words = _prose(r, 8, 14).split(" ")
    words.insert(r.randrange(len(words)), r.choice(_TOXIC))
    return " ".join(words)


def _write(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    """Multi-file parquet, several row groups per file."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per, per)
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"),
                       row_group_size=max(1, -(-part.num_rows // 4)))


def digest(values) -> str:
    h = hashlib.sha256()
    for v in sorted(values):
        h.update(f"{v}\n".encode())
    return h.hexdigest()[:16]


# ------------------------------------------------------ filter_pages
#: page class → share of the pages, and the pipeline rules each class
#: fails (``PAGE_FLAGS``). Every class sits far from the rule thresholds
#: (clean prose scores perplexity <= 11.1 against the 13.5 cut; short
#: pages have <= 42 words against Gopher's 50), so a class's flags hold
#: for every document of it, whatever the seed.
PAGE_RULES = ("not_null_text", "gopher_text", "lang_id_text",
              "perplexity_text", "pii_text")
PAGE_CLASSES = {
    "clean": 0.62, "null": 0.03, "short": 0.04, "junk": 0.04,
    "boiler": 0.04, "german": 0.05, "french": 0.05, "pii": 0.09,
    "toxic": 0.04,
}
PAGE_FLAGS = {
    #          not_null gopher lang  ppl   pii
    "clean":  (0, 0, 0, 0, 0),
    "null":   (1, 1, 1, 1, 0),
    "short":  (0, 1, 0, 0, 0),
    "junk":   (0, 1, 1, 1, 0),
    "boiler": (0, 1, 0, 1, 0),
    "german": (0, 1, 1, 1, 0),
    "french": (0, 1, 1, 1, 0),
    "pii":    (0, 0, 0, 0, 1),
    "toxic":  (0, 0, 0, 0, 1),
}
_PAGE_MAKERS = {
    "clean": _prose, "null": lambda r: None,
    "short": lambda r: _prose(r, 2, 2),
    "junk": _junk, "boiler": _boiler,
    "german": lambda r: _foreign(r, _DE), "french": lambda r: _foreign(r, _FR),
    "pii": _pii, "toxic": _toxic,
}
_DOMAINS = ["big-portal.example.com", "news.example.org", "blog.example.net"]


@dataclass
class Pages:
    path: str
    rows: int
    classes: dict[str, int]
    failed: dict[str, int]      # planted failed count per pipeline rule
    kept: int


def _draw_classes(r: random.Random, n: int, shares: dict[str, float]) -> list[str]:
    """Exactly ``round(share * n)`` rows per class (the first class takes
    the rounding rest), in seeded order: every seed does the same work."""
    names = list(shares)
    counts = {k: round(shares[k] * n) for k in names[1:]}
    counts[names[0]] = n - sum(counts.values())
    out = [k for k in names for _ in range(counts[k])]
    r.shuffle(out)
    return out


def make_pages(seed: int, n: int, path: str) -> Pages:
    r = random.Random(f"pages-{seed}")
    cls = _draw_classes(r, n, PAGE_CLASSES)
    texts = [_PAGE_MAKERS[c](r) for c in cls]
    urls, langs, html = [], [], []
    for i, (c, t) in enumerate(zip(cls, texts)):
        d = (_DOMAINS[0] if r.random() < 0.4 else
             r.choice(_DOMAINS[1:] + [f"site-{r.randint(0, 499)}.example.com"]))
        urls.append(f"https://{d}/page/{seed}-{i}")
        langs.append({"german": "de", "french": "fr"}.get(c, "en"))
        esc = (t or "").replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        html.append(f"<html><body><p>{esc}</p></body></html>".encode())
    ts = np.datetime64("2024-01-01T00:00:00", "s") + np.array(
        [r.randrange(30 * 86400) for _ in range(n)], dtype="timedelta64[s]")
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })
    _write(table, path)
    counts = {k: cls.count(k) for k in PAGE_CLASSES}
    failed = {rule: sum(counts[c] * PAGE_FLAGS[c][j] for c in counts)
              for j, rule in enumerate(PAGE_RULES)}
    drop = {c for c, f in PAGE_FLAGS.items() if any(f[:4])}
    kept = sum(v for c, v in counts.items() if c not in drop)
    return Pages(path, n, counts, failed, kept)


# ---------------------------------------------------- validate_table
@dataclass
class Table:
    path: str
    rows: int
    rules: list[str]             # inline rule expressions, parse order
    filters: list[str | None]    # filter_condition per rule
    thresholds: list[float]
    expected: list[tuple[str, int, int]]   # (status, total, failed) per rule
    planted: dict[str, int] = field(default_factory=dict)


_COUNTRIES = ["US", "DE", "FR", "JP", "BR", "IN", "GB", "CA"]
_STATUSES = ["active", "inactive", "pending"]


def make_table(seed: int, n: int, path: str) -> Table:
    """Typed customer table with planted defects at fixed rates."""
    g = np.random.default_rng(seed)
    ids = np.arange(1, n + 1, dtype=np.int64)
    dup = g.random(n) < 0.002                    # duplicate keys
    ids[dup] = g.integers(1, n + 1, dup.sum())
    # a planted duplicate may point at another planted duplicate's slot;
    # the truth below is computed from the final column either way
    age = g.integers(18, 91, n).astype(np.float64)
    age_null = g.random(n) < 0.01
    age_bad = (~age_null) & (g.random(n) < 0.015)
    age[age_bad] = g.choice([-5, 0, 150, 200], age_bad.sum())
    score = np.round(g.random(n) * 100.0, 3)
    score_bad = g.random(n) < 0.004
    score[score_bad] = 100.0 + 1.0 + g.random(score_bad.sum()) * 50.0
    country = np.array(_COUNTRIES, dtype=object)[g.integers(0, 8, n)]
    country_bad = g.random(n) < 0.006
    country[country_bad] = "ZZ"
    country_null = (~country_bad) & (g.random(n) < 0.005)
    country[country_null] = None
    status = np.array(_STATUSES, dtype=object)[
        g.choice(3, n, p=[0.6, 0.3, 0.1])]
    user = [f"u{v:07d}" for v in g.integers(0, 10_000_000, n)]
    email = np.array([f"{u}@example.com" for u in user], dtype=object)
    email_bad = g.random(n) < 0.008
    email[email_bad] = [f"{user[i]}-at-example" for i in np.flatnonzero(email_bad)]
    email_null = (~email_bad) & (g.random(n) < 0.004)
    email[email_null] = None
    day = g.integers(0, 1000, n)
    dates = (np.datetime64("2021-01-01") + day).astype(str).astype(object)
    date_bad = g.random(n) < 0.005
    dates[date_bad] = [f"2022-13-{d % 28 + 1:02d}" for d in day[date_bad]]
    name_len = g.integers(3, 30, n)
    name_bad = g.random(n) < 0.003
    name_len[name_bad] = g.integers(41, 60, name_bad.sum())
    name = np.array(["n" * k for k in name_len], dtype=object)
    name_null = g.random(n) < 0.002
    name[name_null] = None
    amount = np.round(g.random(n) * 1000.0, 2)
    code = np.array([f"AB{v:04d}" for v in g.integers(0, 10000, n)], dtype=object)
    code_bad = g.random(n) < 0.002
    code[code_bad] = "??"

    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "email": pa.array(email, pa.string()),
        "age": pa.array(np.where(age_null, None, age), pa.float64()).cast(pa.int32()),
        "score": pa.array(score, pa.float64()),
        "country": pa.array(country, pa.string()),
        "status": pa.array(status, pa.string()),
        "signup_date": pa.array(dates, pa.string()),
        "name": pa.array(name, pa.string()),
        "amount": pa.array(amount, pa.float64()),
        "code": pa.array(code, pa.string()),
    })
    _write(table, path)

    active = status == "active"
    _, cnt = np.unique(ids, return_counts=True)
    dup_extra = int((cnt - 1).sum())
    _, cnt_a = np.unique(ids[active], return_counts=True)
    dup_extra_a = int((cnt_a - 1).sum())
    ages_bad = age_null | age_bad
    email_miss = email_bad                        # NULL does not fail REGEX
    A = "status = 'active'"
    specs = [
        # (rule, filter, threshold, total, failed)
        ("not_null(id)", None, 0.0, n, 0),
        ("unique(id)", None, 0.0, n, dup_extra),
        ("not_null(email)", None, 0.0, n, int(email_null.sum())),
        (r"regex(email,^[a-z0-9]+@[a-z]+\.[a-z]+$)", None, 0.0, n,
         int(email_miss.sum())),
        ("range(age,18,90)", None, 0.0, n, int(ages_bad.sum())),
        ("range(score,0,100)", None, 0.0, n, int(score_bad.sum())),
        ("enum(country,US,DE,FR,JP,BR,IN,GB,CA)", None, 0.0, n,
         int(country_bad.sum())),
        ("enum(status,active,inactive,pending)", None, 0.0, n, 0),
        ("date_format(signup_date,%Y-%m-%d)", None, 0.0, n, int(date_bad.sum())),
        ("length(name,1,40)", None, 0.05, n, int((name_bad | name_null).sum())),
        ("regex(code,^AB[0-9]{4}$)", None, 0.0, n, int(code_bad.sum())),
        ("not_null(age)", A, 0.0, int(active.sum()), int((age_null & active).sum())),
        ("range(amount,0,1000)", A, 0.0, int(active.sum()), 0),
        ("length(code,6,6)", A, 0.0, int(active.sum()),
         int((code_bad & active).sum())),
        ("unique(id)", A, 0.0, int(active.sum()), dup_extra_a),
    ]
    rules, filters, thresholds, expected = [], [], [], []
    for expr, filt, thr, total, failed in specs:
        rules.append(expr)
        filters.append(filt)
        thresholds.append(thr)
        status_s = "PASSED" if total == 0 or failed / total <= thr else "FAILED"
        expected.append((status_s, total, failed))
    # SCHEMA: metadata only; ``amount`` is declared with the wrong type
    expected.append(("FAILED", 4, 1))
    planted = {"rows": n, "dup_keys_extra": dup_extra,
               "age_null": int(age_null.sum()), "age_out_of_range": int(age_bad.sum()),
               "score_out_of_range": int(score_bad.sum()),
               "country_bad_enum": int(country_bad.sum()),
               "email_regex_miss": int(email_bad.sum()),
               "email_null": int(email_null.sum()),
               "date_miss": int(date_bad.sum()),
               "name_too_long": int(name_bad.sum()),
               "code_bad": int(code_bad.sum())}
    return Table(path, n, rules, filters, thresholds, expected, planted)


# ----------------------------------------------------- curate_corpus
@dataclass
class Corpus:
    path: str
    bench_path: str
    rows: int
    budget: int
    selected_n: int
    selected_fp: str              # digest of the selected doc ids
    near_pairs: set               # planted near-dup pairs among the selected
    reps_n: int                   # selected docs left after near-dup removal
    planted: dict[str, float] = field(default_factory=dict)


#: corpus class → keep verdict of the curation rule set
#: (NOT_NULL + GOPHER + LANG_ID; perplexity and PII are not in it)
_CORPUS_KEEP = {"clean": True, "short": False, "junk": False,
                "german": False, "boiler": False}


def _variant(r: random.Random, text: str, k: int = 2) -> str:
    words = text.split(" ")
    for _ in range(k):
        words[r.randrange(len(words))] = r.choice(_NOUN)
    return " ".join(words)


def make_corpus(seed: int, n_base: int, path: str, bench_path: str) -> Corpus:
    """Corpus of ``n_base`` distinct originals plus planted exact copies
    (~24% of rows), near-dup clusters (~10%) and eval contamination."""
    r = random.Random(f"corpus-{seed}")
    docs: list[tuple[str, str, str]] = []    # (kind, text, lang)
    cls_share = {"clean": 0.86, "short": 0.04, "junk": 0.03,
                 "german": 0.04, "boiler": 0.03}
    makers = {"clean": lambda: _prose(r, 10, 18),
              "short": lambda: " ".join(_sentence(r).split(" ")[:5]),
              "junk": lambda: _junk(r), "german": lambda: _foreign(r, _DE),
              "boiler": lambda: _boiler(r)}
    for c in _draw_classes(r, n_base, cls_share):
        docs.append((c, makers[c](), "de" if c == "german" else "en"))
    # eval set: passages over a disjoint vocabulary; ~1% of the clean
    # docs get one 12-word eval passage spliced in
    bench = [" ".join(r.choice(_EVAL_WORDS) for _ in range(30))
             for _ in range(40)]
    contaminated = set()
    for i, (c, t, lg) in enumerate(docs):
        if c == "clean" and i % 80 == 0:
            b = r.choice(bench).split(" ")
            s = r.randrange(len(b) - 12)
            words = t.split(" ")
            words.insert(r.randrange(len(words)), " ".join(b[s:s + 12]))
            docs[i] = (c, " ".join(words), lg)
            contaminated.add(i)
    # near-dup clusters: 2-4 variants of a clean original
    clusters: list[list[int]] = []
    clean_ids = [i for i, d in enumerate(docs)
                 if d[0] == "clean" and i not in contaminated]
    for j, base in enumerate(r.sample(clean_ids, max(1, int(0.035 * n_base)))):
        members = [base]
        for _ in range(2 + j % 3):
            docs.append(("clean", _variant(r, docs[base][1]), "en"))
            members.append(len(docs) - 1)
        clusters.append(members)
    # exact copies of ~25% of the rows so far (some copied twice)
    n_orig = len(docs)
    for j, i in enumerate(r.sample(range(n_orig), int(0.25 * n_orig))):
        for _ in range(1 + (j % 5 == 0)):
            docs.append(docs[i])
            if i in contaminated:
                contaminated.add(len(docs) - 1)
    # doc ids are a seeded permutation so copies interleave with originals
    order = list(range(len(docs)))
    r.shuffle(order)
    doc_id = {old: new + 1 for new, old in enumerate(order)}
    rows = [None] * len(docs)
    for old, (c, t, lg) in enumerate(docs):
        rows[doc_id[old] - 1] = (doc_id[old], t, lg, c, old)
    table = pa.table({
        "doc_id": pa.array([x[0] for x in rows], pa.int64()),
        "text": pa.array([x[1] for x in rows], pa.string()),
        "lang": pa.array([x[2] for x in rows], pa.string()),
        "n_chars": pa.array([len(x[1]) for x in rows], pa.int64()),
        "url": pa.array([f"https://corpus.example.org/d/{seed}/{x[0]}"
                         for x in rows], pa.string()),
    })
    _write(table, path)
    _write(pa.table({"doc_id": pa.array(range(len(bench)), pa.int64()),
                     "text": pa.array(bench, pa.string())}), bench_path, 1)

    # ---- planted truth: dedup (min id per text) → keep → decon → budget
    winner: dict[str, int] = {}
    for did, t, lg, c, old in rows:
        if t not in winner or did < winner[t]:
            winner[t] = did
    survivors = [x for x in rows
                 if winner[x[1]] == x[0] and _CORPUS_KEEP[x[3]]
                 and x[4] not in contaminated]
    total_tokens: dict[str, int] = {}
    for x in survivors:
        total_tokens[x[2]] = total_tokens.get(x[2], 0) + len(x[1])
    budget = int(0.8 * max(total_tokens.values()))
    selected: list[int] = []
    for lg in total_tokens:
        run = 0
        for x in sorted((x for x in survivors if x[2] == lg),
                        key=lambda x: (len(x[1]), x[0])):
            if run >= budget:
                break
            selected.append(x[0])
            run += len(x[1])
    sel = set(selected)
    text_of = {x[0]: x[1] for x in rows}
    # cluster members as selected doc ids (an original's exact copies are
    # deduped away, so each member text maps to one winner id)
    near_pairs = set()
    reps_drop = 0
    for members in clusters:
        ids = sorted({winner[docs[m][1]] for m in members} & sel)
        reps_drop += max(len(ids) - 1, 0)
        near_pairs |= {(a, b) for k, a in enumerate(ids) for b in ids[k + 1:]}
    planted = {
        "rows": len(rows),
        "exact_dup_share": round(1 - len(winner) / len(rows), 4),
        "near_dup_clusters": len(clusters),
        "near_dup_rows_share": round(
            sum(len(m) for m in clusters) / len(rows), 4),
        "near_dup_pairs_selected": len(near_pairs),
        "contaminated_docs": len({text_of[doc_id[i]] for i in contaminated}),
        "survivors": len(survivors),
        "selected": len(sel),
    }
    return Corpus(path, bench_path, len(rows), budget, len(sel),
                  digest(sel), near_pairs, len(sel) - reps_drop, planted)
