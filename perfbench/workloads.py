"""Seeded inputs, timed passes, correctness checks and layer probes.

Every input is generated here from the workload seed with a private
``random.Random``; the program under test only ever sees the generated
tables.  Spark work is forced with the ``noop`` sink so a pass measures the
computation, not a collect.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql import types as T

from harness import force

# ---------------------------------------------------------------- sizing
# Chosen so one run (set-up, cold pass, JIT ramp, timed window, checks) fits
# the run budget on a 4-core host at local[2]; see NOTES.md for the figures.
ITEMS_PAGES = 240
ITEMS_WORDS = 300          # words per page body
FIELD_SAMPLE = 40          # pages checked against the Python reference
DEDUP_DOCS = 800
DEDUP_VECS = 800
EMB_DIM = 64               # ann_lsh / ann_ivf hyperplanes and centroids are 64-d
CRAWL_HOSTS = 200
CRAWL_SEEDS = 100
CRAWL_ROUNDS = 2
CRAWL_BUCKETS = 8
FP_PROBES = 4000           # never-seen URLs probed against the final Bloom

# the dedup pass: the three pair joins round 6 left regressed and ROADMAP
# direction 4 targets; the other datapipe queries are traced-run probes
DEDUP_PASS = ("dedup_minhash", "ngram_jaccard", "embedding_dedup")

LATIN = ("en", "es", "fr", "pt")
NON_LATIN = ("ru", "zh", "ar")

_SYLLABLES = {
    "en": ["bar", "con", "ter", "ing", "mark", "pro", "duct", "ser", "vice",
           "light", "stone", "wood", "shop", "ton", "ly", "er"],
    "es": ["ca", "sa", "pe", "rro", "ción", "mon", "ta", "ña", "ti", "llo",
           "ble", "go", "ra", "ni", "mer", "cado"],
    "fr": ["mai", "son", "ché", "ri", "tion", "beau", "cou", "leur", "ven",
           "dre", "fê", "te", "gar", "çon", "pla", "ge"],
    "pt": ["ca", "são", "ção", "lho", "mão", "bra", "ço", "ter", "ra", "no",
           "vi", "da", "cor", "po", "li", "nha"],
    "ru": ["ка", "ро", "ви", "на", "до", "ма", "тор", "ль", "ст", "ра",
           "ни", "ко", "ми", "ре", "по", "зна"],
    "zh": ["市", "场", "价", "格", "商", "品", "网", "店", "新", "华",
           "电", "子", "服", "务", "中", "国"],
    "ar": ["كتا", "ب", "سو", "ق", "مد", "ينة", "بي", "ت", "شر", "كة",
           "عم", "ل", "نو", "ر", "سل", "ام"],
}
_EMOJI = ["😀", "👍", "🔥", "✨", "🎉"]
_ENTITY_FORMS = {"é": ("&eacute;", "&#233;", "&#xe9;"), "&": ("&amp;",),
                 "<": ("&lt;",), ">": ("&gt;",)}
_MONTHS = {
    "en": ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"],
    "fr": ["janvier", "février", "mars", "avril", "mai", "juin", "juillet",
           "août", "septembre", "octobre", "novembre", "décembre"],
    "es": ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre"],
    "pt": ["janeiro", "fevereiro", "março", "abril", "maio", "junho", "julho",
           "agosto", "setembro", "outubro", "novembro", "dezembro"],
}


def _stopwords():
    from scrapy_processors_spark.datapipe.textstats import STOPWORDS

    return STOPWORDS


def _vocab(lang: str, size: int, rng: random.Random) -> list:
    """Pseudo-words for one language, none of them a stopword of any
    language (so the generated stopword share alone decides ``lang_id``)."""
    stop = {w for ws in _stopwords().values() for w in ws}
    syl = _SYLLABLES[lang]
    out = set()
    while len(out) < size:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 3)))
        if w not in stop:
            out.add(w)
    return sorted(out)


def zipf_host(rng: random.Random, n_hosts: int) -> int:
    return min(int(math.exp(rng.random() * math.log(n_hosts))) - 1, n_hosts - 1)


# ------------------------------------------------------------- items input
def _html_escape(rng: random.Random, text: str) -> str:
    out = []
    for ch in text:
        forms = _ENTITY_FORMS.get(ch)
        if forms is None or (ch == "é" and rng.random() < 0.5):
            out.append(ch)
        else:
            out.append(rng.choice(forms))
    return "".join(out)


def _body_words(rng: random.Random, lang: str, vocab: dict, n: int) -> list:
    words = []
    stop = _stopwords().get(lang)
    for _ in range(n):
        r = rng.random()
        if stop is not None and r < 0.25:
            words.append(rng.choice(stop))
        elif r < 0.27:
            words.append(rng.choice(["&", "<", "5", "2024", "é", "x>y"]))
        elif r < 0.275:
            words.append(rng.choice(_EMOJI))
        else:
            words.append(rng.choice(vocab[lang]))
    return words


def _render_page(rng: random.Random, title: str, paragraphs: list) -> tuple:
    """(html, text): ``text`` is exactly the concatenation of the parser's
    data events for ``html`` — entities decoded, comments and tags dropped —
    which is the per-URL extraction invariant the extract check asserts."""
    html = ["<!DOCTYPE html><html><head><title>", _html_escape(rng, title),
            "</title></head>\n<body>"]
    text = [title, "\n"]
    for i, para in enumerate(paragraphs):
        html.append(f'<div class="c{i}"><p>')
        html.append(_html_escape(rng, para))
        html.append("</p>")
        if rng.random() < 0.5:
            html.append("<!-- ad slot -->")
        if rng.random() < 0.3:
            html.append("<br/>")
        html.append("</div>\n")
        text.append(para)
        text.append("\n")
    html.append("</body></html>")
    return "".join(html), "".join(text)


def _price_strings(rng: random.Random) -> list:
    out = []
    for _ in range(rng.randint(1, 2)):
        a, c = rng.randint(1, 99999), rng.randint(0, 99)
        if rng.random() < 0.5:  # ASCII / en forms
            out.append(rng.choice([f"${a:,}.{c:02d}", f"USD {a}.{c:02d}",
                                   f"£{a:,}.{c:02d}", f"Price: ${a}"]))
        else:                   # locale forms
            dotted = f"{a:,}".replace(",", ".")
            out.append(rng.choice([f"{dotted},{c:02d} €", f"R$ {dotted},{c:02d}",
                                   f"{a},{c:02d} €", f"{a:,}".replace(",", " ")
                                   + f",{c:02d} kr"]))
    return out


def _date_strings(rng: random.Random) -> list:
    d = date(2015, 1, 1) + timedelta(days=rng.randrange(3650))
    hh, mm = rng.randrange(24), rng.randrange(60)
    lang = rng.choice(["en", "en", "fr", "es", "pt"])
    month = _MONTHS[lang][d.month - 1]
    if lang == "en":
        s = rng.choice([f"{month} {d.day}, {d.year} at {hh:02d}:{mm:02d}",
                        f"{d.day} {month[:3]} {d.year} {hh:02d}:{mm:02d}"])
    elif lang == "fr":
        s = rng.choice([f"{d.day} {month} {d.year}",
                        f"le {d.day} {month} {d.year} à {hh:02d}:{mm:02d}"])
    else:
        s = f"{d.day} de {month} de {d.year}"
    return ["", s] if rng.random() < 0.3 else [s]


def _contact_strings(rng: random.Random, host: str) -> list:
    user = rng.choice(["sales", "info", "support", "j.doe"])
    area, num = rng.choice(["415", "212", "312", "617"]), rng.randrange(100, 199)
    phone = rng.choice([f"+1 ({area}) 555-0{num}", f"{area}-555-0{num}",
                        f"+1 {area} 555 0{num}"])
    vals = [f"Call {phone} or email {user}@{host}"]
    if rng.random() < 0.4:
        vals.append(f"Fax: +1 {area} 555 0{num + 1}")
    return vals


def gen_pages(seed: int, n_pages: int = ITEMS_PAGES,
              n_words: int = ITEMS_WORDS) -> list:
    """One row per scraped page: html (with its expected text and language)
    plus the value lists an XPath extraction of that page would yield."""
    rng = random.Random(f"items:{seed}")
    vocab = {lang: _vocab(lang, 400, rng) for lang in _SYLLABLES}
    rows = []
    t0 = datetime(2024, 1, 1)
    for i in range(n_pages):
        lang = (rng.choice(NON_LATIN) if rng.random() < 0.12
                else rng.choice(LATIN))
        h = zipf_host(rng, 500)
        host = f"shop{h}.example.com"
        url = f"https://www.{host}/item/{i}-{rng.randrange(10 ** 6)}"
        name = " ".join(rng.choice(vocab[lang]) for _ in range(3))
        words = _body_words(rng, lang, vocab, n_words)
        cuts = sorted(rng.sample(range(1, n_words), rng.randint(2, 5)))
        paras = [" ".join(words[a:b]) for a, b in zip([0] + cuts, cuts + [n_words])]
        html, text = _render_page(rng, name, paras)
        title_vals = rng.choice([
            ["", f"  <b>{name}</b> {rng.choice(_EMOJI)}  "],
            [f'"{name.title()}"  ', name],
            [f"<span>{name}</span> — {rng.choice(_EMOJI)} new!"],
        ])
        rows.append({
            "url": url,
            "warc_ts": t0 + timedelta(seconds=i),
            "html": html.encode("utf-8"),
            "text": text,
            "lang": lang,
            "title_vals": title_vals,
            "price_vals": _price_strings(rng),
            "date_vals": _date_strings(rng),
            "pub_date_vals": [(date(2015, 1, 1) + timedelta(days=rng.randrange(3650))).isoformat()],
            "contact_vals": _contact_strings(rng, host),
            "sku_vals": [f"SKU {rng.randint(10, 99)}-{rng.randint(100, 999)}.{rng.randint(100, 999)}",
                         f"Model {rng.randint(1, 9)},{rng.randint(100, 999)} rev {rng.randint(2, 9)}"],
            "props_vals": [json.dumps({"brand": {"name": rng.choice(vocab["en"])},
                                       "rating": rng.randint(1, 50) / 10})],
            "link_vals": [rng.choice([f"HTTP://WWW.{host.upper()}:80/a/../item/{i}?utm=1#frag",
                                      f"https://www.{host}/item/{i}/",
                                      f"https://www.{host}:443/p/{i}#reviews"])],
            "footer_html": (f'<footer><a href="https://facebook.com/{host}">fb</a>'
                            f'<a href="https://twitter.com/{host}">tw</a>'
                            f'<a href="/about">about</a></footer>'),
        })
    return rows


ITEMS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    *[T.StructField(c, T.ArrayType(T.StringType())) for c in (
        "title_vals", "price_vals", "date_vals", "pub_date_vals",
        "contact_vals", "sku_vals", "props_vals", "link_vals")],
    T.StructField("footer_html", T.StringType()),
])


# ------------------------------------------------------------- dedup input
def gen_corpus(seed: int, n_docs: int = DEDUP_DOCS, n_vecs: int = DEDUP_VECS):
    """``documents`` and ``embeddings`` rows in the testdata schema, with
    planted near-duplicates.  Every tenth document is a near-duplicate (its
    source with two words replaced) and every twentieth, offset by five, an
    exact copy; each sits at ``source_id + 1``, so the id-adjacent pair joins
    see it.  The counts are fixed, only the content depends on the seed.
    ``planted`` lists the (source, near-duplicate) doc-id pairs."""
    rng = random.Random(f"dedup:{seed}")
    vocab = _vocab("en", 1500, rng)
    docs, planted = [], []
    for k in range(n_docs):
        if k % 10 == 1:
            copy = list(docs[k - 1])
            for _ in range(2):
                copy[rng.randrange(len(copy))] = rng.choice(vocab)
            planted.append((k - 1, k))
            docs.append(copy)
        elif k % 20 == 5:
            docs.append(list(docs[k - 1]))
        else:
            docs.append([rng.choice(vocab) for _ in range(rng.randint(40, 90))])
    documents = [{"doc_id": k, "text": " ".join(w), "lang": "en",
                  "source": f"src{k % 7}", "n_chars": len(" ".join(w))}
                 for k, w in enumerate(docs)]
    centers = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(16)]
    embeddings = []
    for k in range(n_vecs):
        label = rng.randrange(16)
        v = [c + rng.gauss(0, 0.6) for c in centers[label]]
        embeddings.append({"vec_id": k, "embedding": [round(x, 5) for x in v],
                           "label": label})
    return documents, embeddings, planted


def write_corpus(spark, seed: int, root: str) -> list:
    documents, embeddings, planted = gen_corpus(seed)
    spark.createDataFrame(
        documents, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "documents.parquet"))
    spark.createDataFrame(
        embeddings, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "embeddings.parquet"))
    return planted


# ---------------------------------------------------------- field pipelines
def field_specs():
    """name -> (input column, Spark column function, Python reference).  Each
    field is a reference item-loader field: a MapCompose input chain over the
    value list and an output reducer."""
    from scrapy_processors_spark import (
        Date, DateTimeExtraordinaire, Demojize, Emails, ExtractDigits, JsonGet,
        Join, MapCompose, NormalizeNumericString, PhoneNumbers, PriceParser,
        RemoveHTMLTags, Socials, TakeFirst, TakeFirstTruthy, ToFloat,
        UrlCanonicalize, clean_string)

    def field(col, chain, reducer):
        return (col, lambda c: reducer(chain.apply_array(F.col(c))),
                lambda vals: reducer.run_python(chain.run_python(vals)))

    specs = {
        "title": field("title_vals",
                       MapCompose(RemoveHTMLTags(), Demojize(), clean_string),
                       TakeFirstTruthy()),
        "price": field("price_vals", MapCompose(PriceParser()),
                       TakeFirst(elem_type=PriceParser._STRUCT)),
        "price_float": field("price_vals", MapCompose(ToFloat(decimal_places=2)),
                             TakeFirst(elem_type=T.DoubleType())),
        "price_norm": field("price_vals", MapCompose(NormalizeNumericString(
            thousands_separator=",", decimal_separator=".", decimal_places=2,
            keep_trailing_zeros=True)), Join(" | ")),
        "published": field("date_vals", MapCompose(DateTimeExtraordinaire()),
                           TakeFirst(elem_type=T.TimestampType())),
        "pub_date": field("pub_date_vals", MapCompose(Date()),
                          TakeFirst(elem_type=T.DateType())),
        "emails": field("contact_vals", MapCompose(Emails()), Join(", ")),
        "phones": field("contact_vals", MapCompose(PhoneNumbers()), Join(", ")),
        "skus": field("sku_vals", MapCompose(ExtractDigits()), Join("|")),
        "brand": field("props_vals", MapCompose(JsonGet(expression="brand.name")),
                       TakeFirst()),
        "links": field("link_vals", MapCompose(UrlCanonicalize()), Join(" ")),
    }
    socials = Socials()
    specs["socials"] = ("footer_html", lambda c: socials(c), socials.process_value)
    return specs


def items_frame(spark, path: str):
    """One items pass: read the page table, extract and clean the text, run
    the text statistics and signature kernels, and load every item field."""
    from scrapy_processors_spark import RemoveHTMLTags, clean_string
    from scrapy_processors_spark.datapipe import dedup, textstats
    from scrapy_processors_spark.sources.pages import read_pages

    pages = read_pages(spark, path)
    specs = field_specs()
    fields = [build(col).alias(name) for name, (col, build, _) in specs.items()]
    raw = pages.select(
        "url", "lang",
        RemoveHTMLTags()(F.col("html").cast("string")).alias("raw_text"),
        *fields)
    clean = raw.select("*", clean_string.apply_scalar(F.col("raw_text")).alias("clean"))
    mh = dedup.minhash_lanes_kernel(num_hashes=4, shingle_n=2)
    return clean.select(
        "url", "lang", "raw_text", *specs,
        textstats.token_count_ws(F.col("clean")).alias("n_tokens"),
        textstats.quality_score(F.col("clean")).alias("quality"),
        textstats.lang_id(F.col("raw_text")).alias("lang_guess"),
        textstats.fingerprint(F.col("clean")).alias("fp"),
        dedup.simhash16_kernel(F.col("clean")).alias("simhash"),
        mh(F.col("clean")).alias("minhash"),
    )


# ------------------------------------------------------------ normalising
def norm(v, exact: bool = False) -> str:
    """Canonical string of one output value: the rules of
    ``scripts/verify_oracle.py`` (floats to 6 significant digits, for
    cross-engine comparison) plus the Python reference's value types.
    ``exact`` keeps every digit of a float, for same-engine comparison."""
    from scrapy_processors_spark.kernels.price import ParsedPrice

    if isinstance(v, ParsedPrice):
        v = {"amount": None if v.amount is None else str(v.amount),
             "currency": v.currency, "amount_text": v.amount_text,
             "amount_float": v.amount_float}
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, float):
        v += 0.0  # -0.0 == 0.0; the engines differ in the sign of a zero
        return repr(v) if exact else f"{v:.6g}"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x, exact) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x, exact)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


# ------------------------------------------------------------------ checks
def check_fields(inputs: dict, outputs: dict, specs) -> tuple:
    """inputs/outputs: url -> row dict.  Compares every field of every
    sampled page with the Python reference; returns (matched, checked,
    first mismatch or None)."""
    matched = checked = 0
    first = None
    for url in sorted(inputs):
        row_in, row_out = inputs[url], outputs.get(url)
        for name, (col, _, ref) in specs.items():
            checked += 1
            want = norm(ref(row_in[col]), exact=True)
            got = None if row_out is None else norm(row_out.get(name), exact=True)
            if got == want:
                matched += 1
            elif first is None:
                first = {"url": url, "field": name, "want": want, "got": got}
    return matched, checked, first


def check_extract(expected: dict, extracted: dict) -> tuple:
    """url -> generated text vs url -> extracted text, byte for byte."""
    matched = 0
    first = None
    for url in sorted(expected):
        got = extracted.get(url)
        if got == expected[url]:
            matched += 1
        elif first is None:
            first = {"url": url, "want": expected[url][:120],
                     "got": None if got is None else got[:120]}
    return matched, len(expected), first


def check_tables(spark_cols, spark_rows, oracle_cols, oracle_rows) -> bool:
    if len(spark_rows) != len(oracle_rows) or sorted(spark_cols) != sorted(oracle_cols):
        return False
    return canon(spark_rows, spark_cols) == canon(oracle_rows, oracle_cols)


def digest(rows) -> str:
    h = hashlib.sha256()
    for line in sorted("|".join(norm(x) for x in r) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def check_digests(pairs: list) -> tuple:
    """pairs: (digest under test, reference digest)."""
    matched = sum(1 for a, b in pairs if a == b)
    return matched, len(pairs)


# --------------------------------------------------------------- workloads
QUERY_SPANS = {
    "dedup_exact": "datapipe.dedup.exact_dedup",
    "dedup_minhash": "datapipe.dedup.minhash_pairs",
    "ngram_jaccard": "datapipe.dedup.ngram_jaccard",
    "embedding_dedup": "datapipe.dedup.embedding_dedup",
    "ann_topk": "datapipe.similarity.cosine_topk",
    "ann_lsh": "datapipe.similarity.lsh_topk",
    "ann_ivf": "datapipe.similarity.ivf_topk",
}


class Items:
    """Item loading and text extraction over a generated page table.
    Item = page."""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark, self.seed, self.tr = spark, seed, tracer
        self.path = os.path.join(workdir, "pages")

    def prepare(self) -> None:
        from scrapy_processors_spark.sources.pages import write_pages

        self.rows = gen_pages(self.seed)
        write_pages(self.spark.createDataFrame(self.rows, ITEMS_SCHEMA), self.path)
        self.items = len(self.rows)

    def run_pass(self) -> None:
        with self.tr.span("pass.items"):
            force(items_frame(self.spark, self.path))

    def check(self) -> tuple:
        """(matched, checked, failures): every page's extracted text against
        the generated text, and every field of a seeded page sample against
        the Python reference semantics."""
        from scrapy_processors_spark import RemoveHTMLTags
        from scrapy_processors_spark.sources.pages import read_pages

        pages = read_pages(self.spark, self.path)
        html = F.col("html").cast("string")
        extracted = {r.url: r.t for r in pages.select(
            "url", RemoveHTMLTags()(html).alias("t")).collect()}
        ex = check_extract({r["url"]: r["text"] for r in self.rows}, extracted)

        sample = random.Random(f"sample:{self.seed}").sample(self.rows, FIELD_SAMPLE)
        specs = field_specs()
        out = (items_frame(self.spark, self.path)
               .where(F.col("url").isin([r["url"] for r in sample]))
               .select("url", *specs).collect())
        fi = check_fields({r["url"]: r for r in sample},
                          {r.url: r.asDict() for r in out}, specs)
        failures = [f for f in (ex[2], fi[2]) if f is not None]
        return ex[0] + fi[0], ex[1] + fi[1], failures


class Dedup:
    """The dedup and nearest-neighbour joins over a generated corpus.
    Item = input row (documents + embeddings)."""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark, self.seed, self.tr = spark, seed, tracer
        self.corpus = os.path.join(workdir, "corpus")

    def prepare(self) -> None:
        self.planted = write_corpus(self.spark, self.seed, self.corpus)
        self.items = DEDUP_DOCS + DEDUP_VECS

    def run_query(self, name: str) -> None:
        from scrapy_processors_spark.datapipe.queries import DATAPIPE_QUERIES

        with self.tr.span(QUERY_SPANS[name]):
            force(DATAPIPE_QUERIES[name](self.spark, self.corpus))

    def run_pass(self) -> None:
        with self.tr.span("pass.dedup"):
            for name in DEDUP_PASS:
                self.run_query(name)

    def check(self) -> tuple:
        """(matched, checked, failures): each query of the pass against its
        DuckDB oracle over the same generated tables."""
        import duckdb

        from scrapy_processors_spark.datapipe.queries import (
            DATAPIPE_ORACLES, DATAPIPE_QUERIES)

        con = duckdb.connect()
        matched, failures = 0, []
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.corpus}/{t}.parquet/*.parquet'")
            for name in DEDUP_PASS:
                sdf = DATAPIPE_QUERIES[name](self.spark, self.corpus)
                srows = [tuple(r) for r in sdf.collect()]
                ores = con.sql(DATAPIPE_ORACLES[name])
                ocols, orows = ores.columns, ores.fetchall()
                if check_tables(sdf.columns, srows, ocols, orows):
                    matched += 1
                else:
                    failures.append({
                        "query": name, "rows": [len(srows), len(orows)],
                        "first_diff": _first_diff(canon(srows, sdf.columns),
                                                  canon(orows, ocols))})
        finally:
            con.close()
        return matched, len(DEDUP_PASS), failures


def _first_diff(a: list, b: list):
    for x, y in zip(a, b):
        if x != y:
            return {"spark": x[:200], "oracle": y[:200]}
    return None


WORKLOADS = {"items": Items, "dedup": Dedup}
