"""Seeded input generators with ground truth.

Everything here is numpy/pyarrow in the benchmark process; the program
under test only ever sees the parquet files written by :func:`materialize`.
Each generator returns ``(tables, truth)``: ``tables`` maps a table name to
a ``pyarrow.Table`` and ``truth`` is a JSON-able dict of exactly what was
injected (nulls per column, corrupted values per rule split into the
shares the repair chain fixes and the shares it cannot, near-duplicate
pairs).  Clean values are unambiguously clean: ASCII lower-case e-mails,
checksum-valid TC ids, 10-digit mobile numbers with no run a dummy-number
pattern could match, and canonical ASCII city names.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
N_FILES = 4  # one scan task per core of the 4-core reference host

# (display name, gender code used by the name->gender dimension)
FIRST_NAMES = [
    ("Ahmet", "E"), ("Mehmet", "E"), ("Mustafa", "E"), ("Ali", "E"),
    ("Murat", "E"), ("Burak", "E"), ("Emre", "E"), ("Kemal", "E"),
    ("Hasan", "E"), ("Osman", "E"), ("Yusuf", "E"), ("Hakan", "E"),
    ("Serkan", "E"), ("Volkan", "E"), ("Tolga", "E"), ("Onur", "E"),
    ("Fatma", "K"), ("Zeynep", "K"), ("Elif", "K"), ("Merve", "K"),
    ("Esra", "K"), ("Derya", "K"), ("Emine", "K"), ("Hatice", "K"),
    ("Selin", "K"), ("Gamze", "K"), ("Ebru", "K"), ("Melek", "K"),
    ("Sevgi", "K"), ("Hande", "K"), ("Dilek", "K"), ("Seda", "K"),
]
LAST_NAMES = [
    "Yilmaz", "Kaya", "Demir", "Sahin", "Celik", "Yildiz", "Aydin",
    "Ozdemir", "Arslan", "Dogan", "Kilic", "Aslan", "Cetin", "Kara",
    "Koc", "Kurt", "Ozkan", "Simsek", "Polat", "Korkmaz", "Erdem", "Tekin",
]
DOMAINS = ["example.com", "posta.com.tr", "firma.net", "okul.edu.tr",
           "kurum.org", "mail.com"]
# ASCII-only canonical spellings: initcap() of their lower-case form is the
# name itself, so a case-corrupted value is exactly what title_case repairs
CITIES = ["Adana", "Ankara", "Antalya", "Bursa", "Denizli", "Konya",
          "Kayseri", "Samsun", "Trabzon", "Malatya", "Manisa", "Sakarya",
          "Mardin", "Sivas", "Tokat", "Yalova"]
CITY_FILL = "Bilinmiyor"  # placeholder the repair chain writes into NULLs

CUSTOMER_COLUMNS = ["customer_id", "first_name", "last_name", "email",
                    "phone", "tcid", "city", "birth_date", "balance"]
NULL_RATES = {"first_name": 0.01, "last_name": 0.01, "email": 0.04,
              "phone": 0.05, "tcid": 0.03, "city": 0.06,
              "birth_date": 0.03, "balance": 0.02}
# share of non-null values corrupted: (fixed by the repair chain, not fixed)
DEFECT_RATES = {"email": (0.03, 0.05), "phone": (0.04, 0.05),
                "tcid": (0.0, 0.04), "city": (0.03, 0.03)}
# rule name -> ruled column; the rules the session detects with
RULES = {"email_email": "email", "phone_phone": "phone",
         "tcid_tcid": "tcid", "city_domain": "city"}


def _pick(rng: np.random.Generator, pool: np.ndarray, k: int) -> np.ndarray:
    """``k`` distinct indices out of ``pool``, sorted."""
    return np.sort(rng.choice(pool, size=k, replace=False)) if k else pool[:0]


def _digit_strings(d: np.ndarray) -> np.ndarray:
    """Rows of decimal digits -> object array of digit strings."""
    raw = np.ascontiguousarray((d + 48).astype(np.uint8)).view(f"S{d.shape[1]}")
    return raw.ravel().astype(str).astype(object)


def tc_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Checksum-valid 11-digit TC identity numbers (first digit non-zero)."""
    d = rng.integers(0, 10, size=(n, 11))
    d[:, 0] = rng.integers(1, 10, size=n)
    odd = d[:, 0] + d[:, 2] + d[:, 4] + d[:, 6] + d[:, 8]
    even = d[:, 1] + d[:, 3] + d[:, 5] + d[:, 7]
    d[:, 9] = (7 * odd - even) % 10
    d[:, 10] = d[:, :10].sum(axis=1) % 10
    return _digit_strings(d)


def mobile_numbers(rng: np.random.Generator, n: int) -> np.ndarray:
    """10-digit numbers starting with 5 where consecutive digits never
    repeat or step by one: every dummy pattern the phone rule knows
    ("000000", "12345", "98765", ...) needs such a step, so none can match."""
    d = np.empty((n, 10), dtype=np.int64)
    d[:, 0] = 5
    for i in range(1, 10):
        d[:, i] = (d[:, i - 1] + rng.integers(2, 9, size=n)) % 10
    return _digit_strings(d)


def customers(seed: int, n_rows: int) -> tuple[dict[str, pa.Table], dict]:
    """The workbench upload: one customer table with stated null and defect
    rates.  ``truth`` holds the exact injected counts."""
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    fi = rng.integers(0, len(FIRST_NAMES), size=n)
    li = rng.integers(0, len(LAST_NAMES), size=n)
    first = np.array([FIRST_NAMES[i][0] for i in fi], dtype=object)
    last = np.array([LAST_NAMES[i] for i in li], dtype=object)
    num = rng.integers(1, 1000, size=n)
    dom = rng.integers(0, len(DOMAINS), size=n)
    email = np.array([f"{f.lower()}.{s.lower()}{k}@{DOMAINS[d]}"
                      for f, s, k, d in zip(first, last, num, dom)], dtype=object)
    phone = mobile_numbers(rng, n)
    tcid = tc_ids(rng, n)
    city = np.array(CITIES, dtype=object)[rng.integers(0, len(CITIES), size=n)]
    birth = (np.datetime64("1950-01-01")
             + rng.integers(0, 55 * 365, size=n).astype("timedelta64[D]"))
    balance = np.round(rng.normal(2500.0, 1800.0, size=n), 2)

    cols = {"first_name": first, "last_name": last, "email": email,
            "phone": phone, "tcid": tcid, "city": city}
    null_masks = {}
    everyone = np.arange(n)
    for c, rate in NULL_RATES.items():
        m = np.zeros(n, dtype=bool)
        m[_pick(rng, everyone, int(round(rate * n)))] = True
        null_masks[c] = m

    truth: dict = {"kind": "customers", "seed": seed, "rows": n,
                   "nulls": {c: int(m.sum()) for c, m in null_masks.items()},
                   "defects": {}}
    for c, (fix_rate, bad_rate) in DEFECT_RATES.items():
        live = everyone[~null_masks[c]]
        n_fix, n_bad = int(round(fix_rate * len(live))), int(round(bad_rate * len(live)))
        chosen = rng.choice(live, size=n_fix + n_bad, replace=False)
        fix_idx, bad_idx = np.sort(chosen[:n_fix]), np.sort(chosen[n_fix:])
        v = cols[c]
        if c == "email":
            for i in fix_idx:        # surrounding blanks: strip_chars repairs
                v[i] = f" {v[i]} "
            kinds = rng.integers(0, 3, size=len(bad_idx))
            for i, k in zip(bad_idx, kinds):
                if k == 0:           # no '@'
                    v[i] = v[i].replace("@", ".")
                elif k == 1:         # upper-case letter
                    v[i] = v[i][0].upper() + v[i][1:]
                else:                # two '@'
                    v[i] = v[i].replace("@", "@@")
        elif c == "phone":
            for i in fix_idx:        # blank-separated: find_replace repairs
                s = v[i]
                v[i] = f"{s[:3]} {s[3:6]} {s[6:8]} {s[8:]}"
            kinds = rng.integers(0, 3, size=len(bad_idx))
            for i, k in zip(bad_idx, kinds):
                if k == 0:           # trunk prefix: 10 chars starting with 0
                    v[i] = "0" + v[i][:9]
                elif k == 1:         # too short
                    v[i] = v[i][:9]
                else:                # letter inside
                    v[i] = v[i][:4] + "x" + v[i][5:]
        elif c == "tcid":
            for i in bad_idx:        # wrong check digit
                s = v[i]
                v[i] = s[:10] + str((int(s[10]) + 1 + int(rng.integers(0, 9))) % 10)
        elif c == "city":
            kinds = rng.integers(0, 2, size=len(fix_idx))
            for i, k in zip(fix_idx, kinds):  # case damage: title_case repairs
                v[i] = v[i].upper() if k else v[i].lower()
            for i in bad_idx:        # misspelled: a doubled letter
                s = v[i]
                v[i] = s[:2] + s[1] + s[2:]
        truth["defects"][c] = {"fixable": len(fix_idx), "unfixable": len(bad_idx)}

    def masked(c, arr, typ):
        return pa.array(arr, type=typ, mask=null_masks[c])

    born = birth.astype("datetime64[D]")
    truth["birth_year_sum"] = int(
        (born[~null_masks["birth_date"]].astype("datetime64[Y]").astype(int) + 1970).sum())
    truth["gender_matched"] = int((~null_masks["first_name"]).sum())
    truth["expected"] = expected_detect(truth)
    table = pa.table({
        "customer_id": pa.array(np.arange(1, n + 1), pa.int64()),
        **{c: masked(c, cols[c], pa.string()) for c in cols},
        "birth_date": masked("birth_date", born, pa.date32()),
        "balance": masked("balance", balance, pa.float64()),
    })
    return {"customers": table}, truth


def expected_detect(truth: dict) -> dict:
    """Per-rule (null_records, out_of_format_records) before and after the
    session's repair chain (strip e-mail blanks, title-case cities, remove
    phone blanks, fill NULL cities with a placeholder outside the domain)."""
    before, after = {}, {}
    for rule, c in RULES.items():
        nulls = truth["nulls"][c]
        d = truth["defects"][c]
        before[rule] = [nulls, d["fixable"] + d["unfixable"]]
        after[rule] = [nulls, d["unfixable"]]
    after["city_domain"] = [0, truth["defects"]["city"]["unfixable"]
                            + truth["nulls"]["city"]]
    return {"before": before, "after": after}


def corpus(seed: int, n_docs: int, dup_share: float = 0.1,
           doc_words: int = 60, vocab: int = 5000) -> tuple[dict[str, pa.Table], dict]:
    """A text corpus where ``dup_share`` of the docs are near-duplicate
    copies (one word replaced) of a base doc.  Bases get 1, 2, 3, 1, 2, 3...
    copies, so every seed has the same cluster sizes (and so the same
    amount of clustering work); random docs share no 3-word shingle with
    overwhelming probability (vocabulary ``vocab``)."""
    rng = np.random.default_rng([seed, 2])
    words = np.array([f"w{i:04d}" for i in range(vocab)], dtype=object)
    n_dup_target = int(round(dup_share * n_docs))
    n_base = n_docs - n_dup_target
    base = rng.integers(0, vocab, size=(n_base, doc_words))
    texts = [" ".join(words[row]) for row in base]
    pairs = []
    copies_left = n_dup_target
    for j, b in enumerate(rng.permutation(n_base)):
        if copies_left == 0:
            break
        k = min(copies_left, 1 + j % 3)
        for _ in range(k):
            row = base[b].copy()
            row[int(rng.integers(0, doc_words))] = int(rng.integers(0, vocab))
            pairs.append((int(b), len(texts)))
            texts.append(" ".join(words[row]))
        copies_left -= k
    # doc ids are a seeded permutation so copies are not adjacent to bases
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    inj = sorted([min(int(ids[a]), int(ids[c])), max(int(ids[a]), int(ids[c]))]
                 for a, c in pairs)
    clusters = len({a for a, _ in pairs})
    order = np.argsort(ids)
    table = pa.table({"doc_id": pa.array(ids[order], pa.int64()),
                      "text": pa.array(np.array(texts, dtype=object)[order],
                                       pa.string())})
    truth = {"kind": "corpus", "seed": seed, "rows": len(texts),
             "injected_pairs": inj, "clusters": clusters}
    return {"docs": table}, truth


def write_table(table: pa.Table, path: str) -> None:
    """A directory of ``N_FILES`` parquet parts, the shape a Spark writer
    leaves behind, so the scan gets one task per part."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def materialize(kind: str, seed: int, size: int, root: str) -> tuple[dict[str, str], dict]:
    """Generate (or reuse) the inputs for one seed under ``root``; returns
    table paths and ground truth.  A ``truth.json`` is written last, so a
    directory without one is an interrupted generation and is redone."""
    d = os.path.join(root, f"{kind}-n{size}-s{seed}-v{GEN_VERSION}")
    truth_path = os.path.join(d, "truth.json")
    names = {"customers": ["customers"], "corpus": ["docs"]}[kind]
    paths = {t: os.path.join(d, f"{t}.parquet") for t in names}
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return paths, json.load(f)
    tables, truth = (customers if kind == "customers" else corpus)(seed, size)
    for t, tab in tables.items():
        write_table(tab, paths[t])
    with open(truth_path, "w") as f:
        json.dump(truth, f)
    return paths, truth
