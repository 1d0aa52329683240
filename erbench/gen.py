"""Seeded web-page corpora for the two benchmark workloads.

The generator belongs to the benchmark, not to the engine: the engine only
ever sees the `pages` table (url, warc_ts, html, text, lang). The planted
truth (`entity_id` per url) and the expected latest snapshot per url stay
here and feed the correctness checks in checks.py.

Make-up (the same rules as the engine's own synthetic fixture, so the pages
look like what it was tuned on, but drawn from Python's seeded RNG so that
the inputs do not change when the engine's generator does):

* every entity has a 4-token name FIRST LAST ORG STYLE with a unique
  (FIRST, LAST, ORG) triple; each page titles one perturbed variant of it
  (case, diacritics, a one-character typo, token reorder, dropped token,
  suffix noise);
* the page body carries six context words drawn per entity plus three
  drawn per page, so pages about one entity share a vocabulary;
* about 10% of urls carry a second, older snapshot whose body ends in
  "archived"; the engine must keep the newest one.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import shutil
from dataclasses import dataclass

FIRST = """Maria John Wei Fatima Ivan Aiko Carlos Nadia Pierre Ingrid
Omar Lucia Hans Yuki Priya Sergei Amara Diego Elena Kwame Sofia Anders
Leila Marco Chen Astrid Rafael Zara Viktor Amina Paulo Greta Hiro Dalia
Stefan Rosa Tariq Helga Mateo Suki""".split()
LAST = """Lopez Smith Zhang Haddad Petrov Tanaka Garcia Okafor Dubois
Larsen Rahman Moretti Schmidt Kobayashi Sharma Volkov Diallo Ramirez
Papadopoulos Mensah Costa Lindqvist Nasser Ricci Wang Berg Souza Khan
Novak Abebe Ferreira Johansson Mori Saleh Weber Delgado Farouk Nilsson
Vargas Ito""".split()
ORG = """Consulting Logistics Analytics Holdings Robotics Foods Textiles
Energy Marine Aviation Software Mining Pharma Media Travel Finance
Forestry Ceramics Optics Brewing Motors Realty Biotech Farms Shipping
Studios Telecom Gaming Labs Security""".split()
STYLE = ["Group", "Global", "Partners", "International"]
CTX = """market quarterly report supply contract partner regional export
warehouse retail product customer service network platform license
factory harvest fleet broadcast merger audit payroll invoice tender
freight courier depot refinery turbine orchard vineyard quarry foundry
atelier studio gallery auction charter franchise subsidiary dividend
forecast inventory logistics procurement wholesale distributor assembly
prototype patent trademark compliance subsidy grant endowment summit
keynote webinar roadshow expo symposium""".split()
LANGS = ["en", "en", "en", "en", "en", "fr", "es", "de", "zh", "en"]
DOMAINS = [f"site{i:02d}.example.com" for i in range(20)]
NAME_SPACE = len(FIRST) * len(LAST) * len(ORG)  # 48,000 unique triples
SCRAMBLE = 7919  # coprime to 48,000: e -> e*7919 + c is a permutation
STALE_SHARE = 0.10  # urls that also carry an older snapshot
N_FILES = 8  # parquet files the pages are written as
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
HTML = (
    "<html><head><title>{t}</title></head><body><h1>{t}</h1>"
    "<p><b>About</b> {b}</p><!-- crawl --><script>var x=1;</script>"
    "</body></html>"
)


@dataclass(frozen=True)
class MakeUp:
    """Entity population of one workload."""

    n_cold: int  # ordinary entities
    cold_pages: tuple[int, int]  # pages per cold entity, inclusive range
    n_hot: int  # skewed entities
    hot_pages: int  # pages per hot entity


MAKEUPS = {
    # many pages per entity, plus hot entities whose name blocks exceed the
    # engine's salt cap (64) several times over
    "dense_skew": MakeUp(n_cold=250, cold_pages=(8, 12), n_hot=8, hot_pages=350),
    # the engine fixture's default density: about 3 pages per entity
    "catalog_calibrated": MakeUp(
        n_cold=450, cold_pages=(2, 4), n_hot=3, hot_pages=8
    ),
}


@dataclass
class Corpus:
    pages: list[dict]  # the engine's input rows
    gold: dict[str, int]  # url -> entity_id
    latest: dict[str, tuple[str, str]]  # url -> (title, text) of the newest row


def _ws(s: str) -> str:
    return re.sub(" +", " ", s).strip()


def _entity_name(entity: int, offset: int) -> str:
    e = (entity * SCRAMBLE + offset) % NAME_SPACE
    first = FIRST[e % len(FIRST)]
    last = LAST[(e // len(FIRST)) % len(LAST)]
    org = ORG[(e // (len(FIRST) * len(LAST))) % len(ORG)]
    return " ".join((first, last, org, STYLE[(entity * 13) % len(STYLE)]))


def _perturb(name: str, rng: random.Random) -> str:
    variant = rng.randrange(8)
    p = rng.randrange(max(len(name) - 2, 1)) + 2  # keep the first characters
    toks = name.split(" ")
    if variant == 1:
        out = name.upper()
    elif variant == 2:
        out = name.lower()
    elif variant == 3:
        out = " ".join(reversed(toks))
    elif variant == 4:
        out = " ".join(toks[:3])
    elif variant == 5:
        out = name[: p - 1] + name[p:]  # drop one character
    elif variant == 6:
        out = name[:p] + name[p - 1 :]  # double one character
    elif variant == 7:
        out = name + " Inc"
    else:
        out = name
    if rng.randrange(5) == 0:  # diacritic sprinkle; the engine folds it back
        out = out.translate(str.maketrans("aeo", "áéö"))
    return _ws(out)


def make_corpus(workload: str, seed: int) -> Corpus:
    mk = MAKEUPS[workload]
    rng = random.Random(f"{workload}:{seed}")
    offset = rng.randrange(NAME_SPACE)
    sizes = [mk.hot_pages] * mk.n_hot + [
        rng.randint(*mk.cold_pages) for _ in range(mk.n_cold)
    ]
    entity_of_page = [e for e, n in enumerate(sizes) for _ in range(n)]
    rng.shuffle(entity_of_page)
    ctx_of = [rng.sample(CTX, 6) for _ in sizes]
    pages: list[dict] = []
    gold: dict[str, int] = {}
    latest: dict[str, tuple[str, str]] = {}
    for pid, e in enumerate(entity_of_page):
        url = f"https://{rng.choice(DOMAINS)}/page-{pid}"
        title = _perturb(_entity_name(e, offset), rng)
        body = " ".join(ctx_of[e] + [rng.choice(CTX) for _ in range(3)])
        ts = EPOCH + dt.timedelta(seconds=rng.randrange(90 * 86400))
        lang = rng.choice(LANGS)
        text = _ws(f"{title} {title} About {body}")
        pages.append(
            dict(url=url, warc_ts=ts, html=HTML.format(t=title, b=body).encode(),
                 text=text, lang=lang)
        )
        gold[url] = e
        latest[url] = (title, text)
        if rng.random() < STALE_SHARE:
            old = body + " archived"
            pages.append(
                dict(
                    url=url,
                    warc_ts=ts - dt.timedelta(days=rng.randint(1, 30)),
                    html=HTML.format(t=title, b=old).encode(),
                    text=_ws(f"{title} {title} About {old}"),
                    lang=lang,
                )
            )
    return Corpus(pages, gold, latest)


def write_inputs(corpus: Corpus, path: str) -> None:
    """Write `path/pages` (the engine's input, as N_FILES parquet files)
    and `path/gold` (url, entity_id; only the catalog workload hands it to
    the engine, as `run_with_catalog(gold=...)`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "pages"))
    os.makedirs(os.path.join(tmp, "gold"))
    for i in range(N_FILES):
        table = pa.Table.from_pylist(corpus.pages[i::N_FILES], schema=schema)
        pq.write_table(table, os.path.join(tmp, "pages", f"part-{i:03d}.parquet"))
    gold = pa.table(
        {
            "url": pa.array(list(corpus.gold), pa.string()),
            "entity_id": pa.array(list(corpus.gold.values()), pa.int64()),
        }
    )
    pq.write_table(gold, os.path.join(tmp, "gold", "part-000.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
