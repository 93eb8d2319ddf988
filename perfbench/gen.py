"""Seeded input generators and their ground truth.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The engine sees only the files; the ground truth
stays with the benchmark.

- :func:`workbook_inbox` writes the ``.xlsx`` backlog for
  ``ingest_batches`` and replays the pipeline's row rules in Python to
  predict each file's outcome.
- :func:`doc_backlog` writes the JSON-lines backlog for
  ``stream_dedup`` with planted exact and near duplicates.
"""

from __future__ import annotations

import io
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

from pythondataingestionprocess_spark.sources import xlsx_lite

# ---- workbook inbox ---------------------------------------------------

COMPRAS_HEADER = [
    "Descripción", "Cant", "Precio", "% Desc", "C. Unit US", "C. Unit",
    "Total Cmpr", "Envio", "Fch Cmpr", "Fch Entrga", "Dólar", "Desct",
    "Pzs", "Costo Final", "Liga",
]
PRECIOS_HEADER = [
    "No", "Descripción", "Marca", "Categoria", "P. Tienda", "C. Unit",
    "P. Venta", "P. Oferta", "Preview",
]
NULL_MARKERS = ("None", "nan", "NONE", "")
FIRST_SERIAL = 45300  # 2024-01-08 as an Excel serial date
# positions of the planted edge cases in the drop order
MALFORMED, IDENTICAL_REDROP, CORRECTED_REDROP = 1, 2, 3


def _store_link(rng: random.Random, product: int) -> str:
    """A Liga cell in one of the three store URL shapes: a www-host URL,
    a skip-token host URL and the literal ``ML`` marker."""
    shape = rng.randrange(3)
    if shape == 0:
        return f"https://www.amazon.com.mx/dp/B{product:07d}"
    if shape == 1:
        return f"https://articulo.mercadolibre.com.mx/MLM-{product}"
    return "ML"


@dataclass
class FileTruth:
    """What the pipeline must do with one inbox file."""

    name: str
    size: int
    malformed: bool = False
    rows_in: int = 0
    filtered: int = 0  # no link after lag-1 fill, CANCELED or empty name
    deduped: int = 0  # in-batch or history duplicate
    staged: int = 0
    staged_by_store: dict[str, int] = field(default_factory=dict)


@dataclass
class Inbox:
    files: list[str]  # backlog paths, in drop order
    truth: list[FileTruth]


def _catalogue(rng: random.Random, n: int) -> list[str]:
    adj = ["Mini", "Super", "Deluxe", "Classic", "Pocket", "Giant", "Retro", "Neon"]
    noun = ["Robot", "Puzzle", "Plush", "Racer", "Castle", "Drone", "Doll", "Kite"]
    return [
        f"{rng.choice(adj)} {rng.choice(noun)} {rng.choice(noun)} Set {i:04d}"
        for i in range(n)
    ]


def _workbook_rows(rng, names, weights, rows_per_file, history_pool):
    """(compras rows, precios rows, preview links) for one file."""
    compras = [COMPRAS_HEADER]
    seen: list[str] = []
    for _ in range(rows_per_file):
        if history_pool and rng.random() < 0.08:
            # replay of an earlier row: a history-dedup candidate
            name, cant, cunit, serial = rng.choice(history_pool)
        else:
            name = rng.choices(names, weights)[0]
            cant = rng.randint(1, 10)
            cunit = round(rng.uniform(20, 900), 2)
            serial = FIRST_SERIAL + rng.randrange(90)
        if rng.random() < 0.04:
            name = ""
        liga = _store_link(rng, rng.randrange(10_000))
        if rng.random() < 0.15:
            liga = None  # blank: the lag-1 fill takes the previous raw Liga
        delivery = None
        if rng.random() < 0.05:
            delivery = f"CANCELED {serial + 5}"
        elif rng.random() < 0.5:
            delivery = str(serial + rng.randint(3, 20))
        # comma-decimal strings and null markers in the cleaned columns
        cunit_cell = str(cunit).replace(".", ",") if rng.random() < 0.2 else cunit
        precio = round(cunit * rng.uniform(1.0, 1.4), 2)
        envio = rng.choice([None, 0, round(rng.uniform(0, 99), 2), rng.choice(NULL_MARKERS)])
        compras.append([
            name, cant, precio, round(1 - cunit / precio, 4),
            rng.choice([0, None, round(cunit / 18.5, 2)]), cunit_cell,
            round(cant * cunit, 2), envio, serial, delivery,
            rng.choice([None, round(rng.uniform(17, 21), 4)]),
            rng.choice([None, round(rng.uniform(0, 30), 2)]), 1,
            rng.choice([None, round(cunit * 1.1, 2)]), liga,
        ])
        if name and name not in seen:
            seen.append(name)
    precios = [PRECIOS_HEADER]
    links = {}
    for i, name in enumerate(seen):
        venta = rng.choice([None, 0, round(rng.uniform(100, 1500), 2)])
        precios.append([
            i + 1, name, rng.choice([None, "Acme", "Lego", "Mattel"]),
            rng.choice([None, "Peluche", "Juguete"]), round(rng.uniform(100, 1500), 2),
            round(rng.uniform(20, 900), 2), venta, rng.choice([None, "none", 99.5]),
            "Preview",
        ])
        if rng.random() < 0.7:
            links[(i + 1, 8)] = f"https://img.example.com/{i}.jpg"
    return compras, precios, links


def _predict(compras: list[list], history: set, truth: FileTruth) -> list[tuple]:
    """Replay ``prepare_rows`` + ``dedup_against_history`` in Python:
    lag-1 link fill, link/CANCELED/name filters, then in-batch and
    history duplicates on (name, quantity, unit price, date)."""
    staged = []
    batch_keys: set = set()
    prev_raw = None
    for row in compras[1:]:
        truth.rows_in += 1
        name, cant, cunit, serial, delivery, liga = (
            row[0], row[1], row[5], row[8], row[9], row[14],
        )
        filled = liga if liga else prev_raw
        prev_raw = liga
        if not filled or not name or (delivery and "CANCELED" in delivery):
            truth.filtered += 1
            continue
        price = float(str(cunit).replace(",", "."))
        key = (name, cant, price, serial)
        if key in batch_keys or key in history:
            truth.deduped += 1
            continue
        batch_keys.add(key)
        store = "mercadolibre" if filled == "ML" or "mercadolibre" in filled else "amazon"
        truth.staged_by_store[store] = truth.staged_by_store.get(store, 0) + 1
        staged.append(key)
    truth.staged = len(staged)
    return staged


def _normalize_zip(path: str) -> None:
    """Rewrite a zip with fixed entry timestamps: ``zipfile`` stamps
    entries with the wall clock, which would make same-seed files
    differ byte-wise."""
    with zipfile.ZipFile(path) as z:
        entries = [(i.filename, z.read(i.filename)) for i in z.infolist()]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


def workbook_inbox(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> Inbox:
    """Write ``n_files`` workbooks to ``out_dir`` in drop order.

    Drop order plants the edge cases first: file 1 is malformed (must
    land in the errors dir), file 2 re-drops file 0 byte for byte (must
    add zero facts), file 3 re-drops file 0 under its own name with
    corrected quantities.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    names = _catalogue(rng, 400)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(len(names))]  # Zipf
    history: set = set()
    pool: list[tuple] = []
    files: list[str] = []
    truth: list[FileTruth] = []
    sheets: dict[str, tuple] = {}
    fresh = 0
    for i in range(n_files):
        os.makedirs(os.path.join(out_dir, f"{i:04d}"), exist_ok=True)
        if i == MALFORMED:
            path = os.path.join(out_dir, f"{i:04d}", "malformed.xlsx")
            with open(path, "wb") as f:
                f.write(b"PK\x03\x04 this workbook was truncated in transit")
            t = FileTruth("malformed.xlsx", os.path.getsize(path), malformed=True)
            files.append(path)
            truth.append(t)
            continue
        if i == IDENTICAL_REDROP:
            drop_name, (compras, precios, links) = "wb_0000.xlsx", sheets["wb_0000.xlsx"]
        elif i == CORRECTED_REDROP:
            drop_name = "wb_0000.xlsx"
            compras, precios, links = sheets[drop_name]
            compras = [compras[0]] + [
                row[:1] + [row[1] + 1] + row[2:] if k % 5 == 0 else row
                for k, row in enumerate(compras[1:])
            ]
        else:
            drop_name = f"wb_{fresh:04d}.xlsx"
            fresh += 1
            compras, precios, links = _workbook_rows(rng, names, weights, rows_per_file, pool)
            sheets[drop_name] = (compras, precios, links)
        path = os.path.join(out_dir, f"{i:04d}", drop_name)
        xlsx_lite.write_workbook(
            path, [("Compras", compras), ("Precios", precios)], {"Precios": links}
        )
        _normalize_zip(path)
        t = FileTruth(drop_name, os.path.getsize(path))
        staged = _predict(compras, history, t)
        history.update(staged)
        pool.extend(staged)
        files.append(path)
        truth.append(t)
    return Inbox(files, truth)


# ---- document backlog -------------------------------------------------


@dataclass
class Backlog:
    files: list[str]
    texts: dict[int, str]
    planted: set[tuple[int, int]]  # (min id, max id) pairs
    file_of: dict[int, int]  # doc id → file index


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


DOC_WORDS = 50
EXACT_SHARE = 0.05  # docs that copy an earlier doc
NEAR_SHARE = 0.10  # docs that copy one with two words replaced


def doc_backlog(out_dir: str, seed: int, n_files: int, docs_per_file: int) -> Backlog:
    """JSON-lines doc files (``doc_id``, ``text``) with planted exact
    and near duplicates (trigram Jaccard well above 0.5); every other
    doc draws fresh words from a 20k-word vocabulary."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    vocab = [_word(rng) for _ in range(20_000)]
    texts: dict[int, str] = {}
    file_of: dict[int, int] = {}
    planted: set[tuple[int, int]] = set()
    files = []
    doc_id = 0
    for i in range(n_files):
        lines = []
        for _ in range(docs_per_file):
            u = rng.random()
            if texts and u < EXACT_SHARE + NEAR_SHARE:
                src = rng.randrange(doc_id)
                words = texts[src].split()
                if u >= EXACT_SHARE:
                    for pos in rng.sample(range(len(words)), 2):
                        words[pos] = rng.choice(vocab)
                text = " ".join(words)
                planted.add((src, doc_id))
            else:
                text = " ".join(rng.choice(vocab) for _ in range(DOC_WORDS))
            texts[doc_id] = text
            file_of[doc_id] = i
            lines.append(json.dumps({"doc_id": doc_id, "text": text}))
            doc_id += 1
        path = os.path.join(out_dir, f"docs_{i:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append(path)
    return Backlog(files, texts, planted, file_of)


def shingles(text: str, n: int = 3) -> set[str]:
    """The engine's verify-side shingles: whitespace tokens, distinct
    word n-grams, none when the doc has fewer than n tokens."""
    w = text.strip().split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0
