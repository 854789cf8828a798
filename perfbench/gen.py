"""Seeded, single-process input generators with planted ground truth.

Every generator draws from its own ``random.Random(seed)``, so one seed
always yields byte-identical files and different seeds yield different
files. Nothing here imports Spark: inputs are written before the
program starts, and the program only ever sees the files.

- ``contacts``: LinkedIn CSV + Gmail CSV + vCard with a planted person
  id per record. Exact-email duplicates (LinkedIn rows), typo and
  nickname near-misses (vCard rows) so the ER gate takes its difflib
  path, and Zipf-like surnames with a cap on block size so the
  blocked pair count stays near-linear in the record count.
- ``corpus``: training + eval documents in the sf ``documents``
  vocabulary with planted near-duplicate copies, planted eval-overlap
  (contaminated) documents and planted low-quality documents.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# contacts
# --------------------------------------------------------------------------

# first names; the ones with nicknames are roots of the engine's
# nickname table, so a nickname variant is a real equivalence
NICKS = {
    "William": "Bill", "Robert": "Bob", "Richard": "Rick",
    "Edward": "Ted", "Margaret": "Peggy", "Elizabeth": "Beth",
    "Katherine": "Kate", "Alexander": "Alex", "James": "Jim",
    "Joseph": "Joe", "Matthew": "Matt", "Michael": "Mike",
    "Jeffrey": "Jeff", "Andrew": "Andy", "Steven": "Steve",
    "Christopher": "Chris", "Patrick": "Pat", "Nicholas": "Nick",
    "Francis": "Frank",
}
FIRST = [*NICKS, "Olivia", "Sophia", "Amelia", "Harper", "Evelyn",
         "Abigail", "Emily", "Madison", "Scarlett", "Victoria", "Grace",
         "Chloe", "Camila", "Penelope", "Riley", "Layla", "Lillian",
         "Nora", "Zoey", "Hannah", "Daniel", "Henry", "Samuel", "David",
         "Joshua", "Anthony", "Isaac", "Gabriel", "Julian", "Lucas",
         "Owen", "Ryan", "Nathan", "Caleb", "Isaiah", "Thomas", "Charles",
         "Aaron", "Eli", "Connor", "Jeremiah", "Cameron", "Adrian",
         "Hunter", "Jordan", "Dominic", "Austin", "Ian", "Adam", "Elias",
         "Aria", "Ellie", "Stella", "Hazel", "Aurora", "Violet", "Lucy",
         "Anna", "Savannah", "Audrey", "Brooklyn", "Bella", "Claire",
         "Skylar", "Paisley", "Everly", "Caroline", "Genesis", "Emilia",
         "Kennedy", "Maya", "Willow", "Kinsley", "Naomi", "Aaliyah",
         "Elena", "Sarah", "Ariana", "Allison", "Gabriella", "Alice",
         "Madelyn", "Cora", "Ruby", "Eva", "Serenity", "Autumn", "Quinn",
         "Leo", "Jack", "Luke", "Levi", "Mateo", "Wyatt", "Jayden",
         "Carter", "Grayson", "Sebastian", "Dylan", "Asher", "Ezra",
         "Jaxon", "Lincoln", "Hudson", "Josiah", "Christian", "Landon",
         "Colton", "Easton", "Miles", "Nolan", "Roman", "Axel", "Silas",
         "Everett", "Jace", "Bennett", "Waylon", "Beau", "Declan",
         "Weston", "Micah", "Ayden", "Gavin", "Rowan", "Brooks", "Kai"]
_SYL_A = ["Ab", "Bar", "Cal", "Dor", "El", "Fen", "Gar", "Hal", "Ing",
          "Jor", "Kel", "Lan", "Mor", "Nor", "Ost", "Pel", "Quin", "Ros",
          "Sal", "Tor", "Ul", "Van", "Wen", "Yar", "Zel"]
_SYL_B = ["berg", "by", "dale", "ford", "gate", "ham", "ley", "man",
          "mont", "ridge", "son", "ston", "ton", "well", "wood", "worth"]
SURNAMES = [a + b for a in _SYL_A for b in _SYL_B]   # 400 fixed names
COMPANIES = [f"{a}{b} Inc" for a in _SYL_A[:10] for b in _SYL_B[:5]]
TITLES = ["Engineer", "Manager", "Director", "Analyst", "Consultant",
          "Designer", "Scientist", "Architect", "Recruiter", "Founder"]
AREA = ["617", "212", "415", "312", "206", "303", "512", "404"]
CITIES = [("Quincy", "MA"), ("Austin", "TX"), ("Denver", "CO"),
          ("Seattle", "WA"), ("Chicago", "IL"), ("Atlanta", "GA")]

LI_HEADER = ("First Name,Last Name,URL,Email Address,Company,Position,"
             "Connected On\n")
GM_HEADER = (
    "First Name,Middle Name,Last Name,Name Prefix,Name Suffix,Nickname,"
    "Organization Name,Organization Title,Organization Department,Notes,"
    "E-mail 1 - Value,E-mail 1 - Label,Phone 1 - Value,Phone 1 - Label,"
    "Address 1 - Street,Address 1 - City,Address 1 - Region,"
    "Address 1 - Postal Code,Address 1 - Country,Address 1 - Label\n")

# persons per surname block, so pairs per block are bounded
BLOCK_CAP = 12


def _typo(rng: random.Random, name: str) -> str:
    """One-character edit that keeps the name capitalised: the
    near-miss a difflib ratio, not an equality test, has to decide."""
    i = rng.randrange(1, len(name))
    kind = rng.randrange(3)
    if kind == 0 and i < len(name) - 1:          # transpose
        return name[:i] + name[i + 1] + name[i] + name[i + 2:]
    if kind == 1:                                 # substitute
        c = rng.choice("aeioulnrst".replace(name[i].lower(), ""))
        return name[:i] + c + name[i + 1:]
    return name[:i] + name[i + 1:] if len(name) > 3 else name + "e"


def _zipf_surnames(rng: random.Random, n: int) -> list[str]:
    """Zipf(1.1) over the surname pool, capped at BLOCK_CAP persons per
    surname: a draw into a full block falls to the next open one."""
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(SURNAMES))]
    fill = [0] * len(SURNAMES)
    cap = max(BLOCK_CAP, -(-n // len(SURNAMES)) + 1)
    out = []
    for idx in rng.choices(range(len(SURNAMES)), weights, k=n):
        while fill[idx] >= cap:
            idx = (idx + 1) % len(SURNAMES)
        fill[idx] += 1
        out.append(SURNAMES[idx])
    return out


def _csv_cell(v: str) -> str:
    return f'"{v}"' if ("," in v or '"' in v) else v


def contacts(seed: int, n_records: int, out_dir: str) -> dict:
    """Write linkedin.csv, gmail.csv and mac.vcf (~n_records rows in
    total) and truth.json: the planted person id of every source row,
    keyed by the engine's source name and 0-based row index."""
    rng = random.Random(seed)
    persons = max(8, round(n_records / 1.8))
    lasts = _zipf_surnames(rng, persons)
    people = []
    for i in range(persons):
        first = rng.choice(FIRST)
        last = lasts[i]
        dom = rng.choice(["example.com", "mail.test", "corp.test"])
        people.append({
            "first": first, "last": last,
            "email": f"{first.lower()}.{last.lower()}{i}@{dom}",
            "phone": f"({AREA[i % len(AREA)]}) 555-{(i // len(AREA)) % 10000:04d}",
            "company": rng.choice(COMPANIES), "title": rng.choice(TITLES),
            "city": rng.choice(CITIES), "zip": f"{rng.randrange(10**5):05d}",
            "street": f"{rng.randrange(1, 999)} {rng.choice(SURNAMES)} St",
        })
    truth: dict[str, list[int]] = {"gmail": [], "linkedin": [], "mac_vcf": []}
    with open(os.path.join(out_dir, "gmail.csv"), "w", encoding="utf-8",
              newline="") as fh:
        fh.write(GM_HEADER)
        for i, p in enumerate(people):
            city, st = p["city"]
            zp = p["zip"]
            fh.write(",".join(_csv_cell(v) for v in (
                p["first"], "", p["last"], "", "", "", p["company"],
                p["title"], "", "", p["email"], "Home", p["phone"],
                "Mobile", p["street"], city, st, zp, "US", "Home")) + "\n")
            truth["gmail"].append(i)
    with open(os.path.join(out_dir, "linkedin.csv"), "w", encoding="utf-8",
              newline="") as fh:
        fh.write(LI_HEADER)
        for i, p in enumerate(people):
            if rng.random() >= 0.5:
                continue
            # exact-email duplicate of the Gmail row
            fh.write(",".join(_csv_cell(v) for v in (
                p["first"], p["last"], f"https://linkedin.com/in/p{i}x{seed}",
                p["email"], p["company"], p["title"], "03 Jan 2024")) + "\n")
            truth["linkedin"].append(i)
    with open(os.path.join(out_dir, "mac.vcf"), "w", encoding="utf-8",
              newline="") as fh:
        for i, p in enumerate(people):
            if rng.random() >= 0.3:
                continue
            # near-miss first name: nickname where the name has one,
            # else a one-letter typo; corroborated by phone, and by the
            # email on half of them
            first = p["first"]
            roll = rng.random()
            if roll < 0.4 and first in NICKS:
                first = NICKS[first]
            elif roll < 0.8:
                first = _typo(rng, first)
            lines = ["BEGIN:VCARD", "VERSION:3.0",
                     f"FN:{first} {p['last']}", f"N:{p['last']};{first};;;",
                     f"TEL;TYPE=CELL:{p['phone']}"]
            if rng.random() < 0.5:
                lines.append(f"EMAIL;TYPE=INTERNET;TYPE=WORK:{p['email']}")
            lines.append("END:VCARD")
            fh.write("\n".join(lines) + "\n")
            truth["mac_vcf"].append(i)
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return {"records": sum(len(v) for v in truth.values()),
            "persons": persons}


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

# the sf `documents` vocabulary; "a"/"the" are the quality filter's
# stopwords, so a document without them scores below the threshold
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line",
         "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
CONTENT = [w for w in VOCAB if w not in ("a", "the")]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _doc_words(rng: random.Random, lo: int = 20, hi: int = 90) -> list[str]:
    words = [rng.choice(CONTENT) for _ in range(rng.randint(lo, hi))]
    for _ in range(max(1, len(words) // 12)):    # stopwords -> quality ok
        words[rng.randrange(len(words))] = rng.choice(("a", "the"))
    return words


def corpus(seed: int, n_docs: int, out_dir: str) -> dict:
    """Write docs.parquet (training corpus) and eval.parquet (the
    benchmark slice) plus truth.json:

    - ``near_dups``: [copy_id, base_id] — copy is base with one token
      replaced, base has the lower id, both high quality and clean, so
      keep-first dedup must drop the copy (3-shingle Jaccard >= 0.85);
    - ``contaminated``: training docs carrying a verbatim 12-token span
      of an eval doc, which decontamination must drop;
    - ``low_quality``: docs with no stopword (quality score 80 < 90).

    Near-dup bases are never in the `zh` stratum, the only one the
    curation run downsamples, so a dropped copy is a dedup decision."""
    rng = random.Random(seed)
    n_eval = max(10, n_docs // 20)
    evals = [_doc_words(rng, 30, 60) for _ in range(n_eval)]
    docs, langs = [], []
    truth = {"near_dups": [], "contaminated": [], "low_quality": []}
    bases: list[int] = []
    while len(docs) < n_docs:
        i = len(docs)
        roll = rng.random()
        if roll < 0.08 and bases:
            b = rng.choice(bases)
            words = list(docs[b])
            words[rng.randrange(len(words))] = rng.choice(CONTENT)
            truth["near_dups"].append([i, b])
            docs.append(words)
            langs.append(langs[b])
            continue
        words = _doc_words(rng, 60, 90)
        lang = rng.choice(LANGS)
        if roll < 0.12:
            ev = rng.choice(evals)
            s = rng.randrange(len(ev) - 12)
            at = rng.randrange(len(words) - 12)
            words[at:at + 12] = ev[s:s + 12]
            truth["contaminated"].append(i)
        elif roll < 0.17:
            words = [w for w in words if w not in ("a", "the")]
            truth["low_quality"].append(i)
        elif lang != "zh":
            bases.append(i)
        docs.append(words)
        langs.append(lang)
    texts = [" ".join(w) for w in docs]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts, "lang": langs,
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "docs.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(10**9, 10**9 + n_eval), pa.int64()),
        "text": [" ".join(w) for w in evals],
    }), os.path.join(out_dir, "eval.parquet"))
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return {"records": len(texts), "eval_docs": n_eval,
            **{k: len(v) for k, v in truth.items()}}
