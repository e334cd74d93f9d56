"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and derives all randomness
from ``random.Random`` / ``numpy.random.default_rng`` streams keyed on it,
so the same seed gives byte-identical inputs. The program under test never
sees the seed, only the files written here.

- ``write_card_raw``: card transactions in the FIXTURES.md A1 shape as
  gzip JSON lines, Hive-partitioned ``estado=<uf>/``, with a few malformed
  lines per file.
- ``event_batch`` / ``write_event_file``: one events file per drain, cut on
  10 s window boundaries, positive 2-dp values, out of order only inside a
  window.
- ``write_corpus``: ``documents`` and ``embeddings`` tables in the shape of
  the repository's testdata, with planted near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Card transactions (FIXTURES.md A1)
# --------------------------------------------------------------------------

CITIES = (
    ("-23.5505", "-46.6333", "Sao Paulo", "SP"),
    ("-22.9068", "-43.1729", "Rio de Janeiro", "RJ"),
    ("-19.9167", "-43.9345", "Belo Horizonte", "MG"),
    ("-30.0346", "-51.2177", "Porto Alegre", "RS"),
    ("-25.4284", "-49.2733", "Curitiba", "PR"),
    ("-12.9777", "-38.5016", "Salvador", "BA"),
    ("-3.7319", "-38.5267", "Fortaleza", "CE"),
    ("-15.7939", "-47.8828", "Brasilia", "DF"),
    ("-22.9056", "-47.0608", "Campinas", "SP"),
    ("-8.0476", "-34.8770", "Recife", "PE"),
)
BANDEIRAS = ("visa", "mastercard", "elo", "amex", "hipercard")
TIPO_CARTAO = (("unlimited", 5), ("black", 15), ("platinum", 20), ("gold", 25), ("standard", 35))
COR_CARTAO = (("preto", 5), ("prata", 15), ("amarelo", 20), ("azul", 25), ("verde", 35))
TIPO_TRANSACAO = (("credito", 65), ("debito", 35))
FIRST = ("Ana", "Bruno", "Carla", "Diego", "Elisa", "Fabio", "Gabriela", "Hugo")
LAST = ("Silva", "Santos", "Oliveira", "Souza", "Lima", "Costa", "Pereira")
FILES_PER_ESTADO = 2
MALFORMED_PER_FILE = 3
CARD_EPOCH = dt.datetime(2024, 1, 1)


def _weighted(rng: random.Random, table) -> str:
    names, weights = zip(*table)
    return rng.choices(names, weights)[0]


def _cpf(rng: random.Random) -> str:
    d = [rng.randrange(10) for _ in range(9)]
    for n in (10, 11):
        s = sum(x * w for x, w in zip(d, range(n, 1, -1)))
        dv = 11 - s % 11
        d.append(0 if dv > 9 else dv)
    return "".join(map(str, d))


def card_records(seed: int, n_rows: int) -> list[dict]:
    """``n_rows`` A1 transactions. Cards are reused (one card per ~20 rows)
    and keep their attributes and, nine times in ten, their home city, so
    the spec mart's 10-dimension group-by folds rows together."""
    rng = random.Random(f"cards:{seed}")
    n_cards = max(n_rows // 20, 1)
    cards = []
    for c in range(n_cards):
        cards.append(
            {
                "nome": f"{rng.choice(FIRST)} {rng.choice(LAST)}",
                "cpf": _cpf(rng),
                "bandeira": rng.choice(BANDEIRAS),
                "numero_cartao": f"{rng.choice('4536')}{rng.randrange(10**15):015d}",
                "cvv": f"{rng.randrange(1000):03d}",
                "exp": f"{rng.randrange(1, 13):02d}/{rng.randrange(25, 31)}",
                "tipo_cartao": _weighted(rng, TIPO_CARTAO),
                "cor_cartao": _weighted(rng, COR_CARTAO),
                "home": rng.randrange(len(CITIES)),
            }
        )
    rows = []
    for i in range(n_rows):
        card = cards[rng.randrange(n_cards)]
        city = CITIES[card["home"] if rng.random() < 0.9 else rng.randrange(len(CITIES))]
        cents = rng.randrange(100, 999_901)
        when = CARD_EPOCH + dt.timedelta(seconds=i, milliseconds=rng.randrange(1000))
        rows.append(
            {
                "nome": card["nome"],
                "cpf": card["cpf"],
                "valor": cents / 100,
                "bandeira": card["bandeira"],
                "numero_cartao": card["numero_cartao"],
                "cvv": card["cvv"],
                "exp": card["exp"],
                "tipo_cartao": card["tipo_cartao"],
                "cor_cartao": card["cor_cartao"],
                "tipo_transacao": _weighted(rng, TIPO_TRANSACAO),
                "localizacao": {
                    "lat": city[0],
                    "lng": city[1],
                    "cidade": city[2],
                    "estado": city[3],
                },
                "horario_transacao": when.isoformat(timespec="milliseconds"),
                "estado": city[3],
                "transaction_id": "%032x" % rng.getrandbits(128),
            }
        )
    return rows


def write_card_raw(root: str, seed: int, n_rows: int) -> int:
    """Land ``n_rows`` transactions under ``root/estado=<uf>/`` as gzip
    JSON lines, ``FILES_PER_ESTADO`` files per state, each with
    ``MALFORMED_PER_FILE`` truncated lines mixed in. Returns the number of
    malformed lines written."""
    rng = random.Random(f"raw-files:{seed}")
    by_uf: dict[str, list[str]] = {}
    for r in card_records(seed, n_rows):
        by_uf.setdefault(r["estado"], []).append(json.dumps(r))
    bad = 0
    for uf, lines in sorted(by_uf.items()):
        d = os.path.join(root, f"estado={uf}")
        os.makedirs(d, exist_ok=True)
        for j in range(FILES_PER_ESTADO):
            part = lines[j::FILES_PER_ESTADO]
            for _ in range(MALFORMED_PER_FILE):
                victim = part[rng.randrange(len(part))]
                part.insert(rng.randrange(len(part) + 1), victim[: rng.randrange(5, len(victim) - 5)])
                bad += 1
            with gzip.open(os.path.join(d, f"part-{j:05d}.json.gz"), "wt", compresslevel=1) as f:
                f.write("\n".join(part) + "\n")
    return bad


# --------------------------------------------------------------------------
# Fraud events (the program's EVENTS_SCHEMA)
# --------------------------------------------------------------------------

WINDOW_S = 10
EVENT_EPOCH = dt.datetime(2024, 3, 1)
EVENT_TYPES = ("view", "click", "purchase", "refund", "signup")
EVENTS_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def event_batch(
    seed: int,
    index: int,
    n_events: int,
    windows: int,
    n_users: int,
    n_hot: int,
) -> pa.Table:
    """The events of file ``index``: ``windows`` consecutive 10 s windows
    starting right where file ``index - 1`` ended, ``n_events`` in all.
    Rows are grouped by window and shuffled inside it, so events arrive out
    of order only within a window and never behind the 10 s watermark.
    Values are positive with 2 dp. ``n_hot`` users draw ~30% of the events,
    so each file flags a few dozen (user, window) sums over the threshold."""
    rng = np.random.default_rng([seed, index, 7])
    per_window = np.full(windows, n_events // windows)
    per_window[: n_events % windows] += 1
    start_us = int((EVENT_EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    start_us += index * windows * WINDOW_S * 1_000_000
    ts, users = [], []
    for w, n in enumerate(per_window):
        w0 = start_us + w * WINDOW_S * 1_000_000
        ts.append(w0 + rng.integers(0, WINDOW_S * 1_000_000, n))
        hot = rng.random(n) < 0.3
        users.append(
            np.where(hot, rng.integers(0, n_hot, n), rng.integers(n_hot, n_users, n))
        )
    ts_a = np.concatenate(ts)
    users_a = np.concatenate(users)
    value = rng.integers(50, 3001, n_events) / 100.0
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    props = rng.integers(0, 100, n_events)
    return pa.table(
        {
            "event_id": pa.array(index * n_events + np.arange(n_events), pa.int64()),
            "ts": pa.array(ts_a, pa.timestamp("us")),
            "user_id": pa.array(users_a, pa.int64()),
            "event_type": pa.array([EVENT_TYPES[e] for e in etype], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in props], pa.string()),
        },
        schema=EVENTS_ARROW_SCHEMA,
    )


def write_event_file(events_dir: str, staging_dir: str, index: int, table: pa.Table) -> str:
    """Land one events file atomically: write it beside the source
    directory, then rename it in, so the file source never lists a
    half-written file."""
    name = f"events-{index:06d}.parquet"
    tmp = os.path.join(staging_dir, name)
    pq.write_table(table, tmp)
    dst = os.path.join(events_dir, name)
    os.rename(tmp, dst)
    return dst


# --------------------------------------------------------------------------
# LLM corpus (documents + embeddings, the testdata shape)
# --------------------------------------------------------------------------

VOCAB = (
    "a the data spark stream batch table query join scan sort hash group "
    "agg filter window row column key value part line order customer fast "
    "slow big small vector index merge shuffle plan cache file write read "
    "event user card alert fraud serve store model token text corpus dedup "
    "shingle band bucket pair score rank cluster graph"
).split()
LANGS = ("en", "en", "en", "es", "pt", "zh")
EMBED_DIM = 64


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents of 20-80 vocabulary words. 15% are near-copies
    of an earlier document with 1-3 words replaced and 5% are exact copies
    with altered case and spacing, so MinHash/LSH finds real pairs."""
    rng = random.Random(f"docs:{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.15:
            words = texts[rng.randrange(i)].split(" ")
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
        elif i > 10 and u < 0.20:
            src = texts[rng.randrange(i)]
            texts.append("  ".join(src.upper().split(" ")))
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(20, 80))))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
            "source": pa.array([f"src{rng.randrange(10)}" for _ in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_matrix(seed: int, n_vecs: int) -> np.ndarray:
    """``n_vecs`` x 64 float32 unit-ish vectors; 5% are noisy copies of an
    earlier vector (cosine ~0.5-0.9), the rest independent, whose chance
    pairs above 0.42 form the rest of the near-duplicate set."""
    rng = np.random.default_rng([seed, 11])
    m = rng.standard_normal((n_vecs, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    copies = np.flatnonzero(rng.random(n_vecs) < 0.05)
    for i in copies[copies > 0]:
        src = rng.integers(0, i)
        m[i] = m[src] + rng.uniform(0.4, 1.5) * rng.standard_normal(EMBED_DIM) / np.sqrt(EMBED_DIM)
    return m.astype(np.float32)


def write_corpus(sf_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``sf_dir/documents.parquet`` and ``sf_dir/embeddings.parquet``,
    readable by the program's testdata loader."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents_table(seed, n_docs), os.path.join(sf_dir, "documents.parquet"))
    m = embeddings_matrix(seed, n_vecs)
    labels = np.random.default_rng([seed, 12]).integers(0, 10, n_vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
