"""Seeded benchmark inputs.

csv_jobs: reference-dialect files written byte by byte (``;`` delimiter,
every string quoted with ``""`` escaping and the odd embedded ``;``, the
bare ``NULL`` sentinel, comma decimals); the export tables are
windows-1252.

queries: per pass, a copy of the vendored corpus tables (``perfbench/data``,
the repository's sf0.1 and sf0.01 test tables) with the rows permuted by
the seed and the same row-group layout. Query results must not depend on
the row order, so the oracle check holds for every seed.

    python3 perfbench/gen.py <workload> <seed> <work dir>
"""
import os
import random
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

INGEST_FILES, INGEST_ROWS = ["orders_a.csv", "orders_b.csv"], 40000
EXPORT_TABLES, EXPORT_ROWS = 6, 5000
CORPUS_COPIES = 14  # one per query pass: 2 warm-up and up to 12 timed (--seconds 60)

# Every character here encodes in windows-1252, so the same pools serve
# the legacy files; the non-ASCII ones exercise the transcoding path.
WORDS = ["Acme", "Nordic", "Blue", "Fjord", "Delta", "Ørsted", "Kähler",
         "Café", "Señor", "Müller", "Zeta", "Bølge", "Crème", "Ærø", "Lyng"]
SUFFIXES = ["A/S", "ApS", "Ltd", "GmbH", "& Co", "I/S"]
NOTES = ["ring før levering", "paid €", "ship; split", 'said "ok"', "rush",
         "return ‘damaged’", "net 30", "øko", "—", "see invoice"]


def quoted(s):
    return '"' + s.replace('"', '""') + '"'


def comma_decimal(rnd, lo, hi, places):
    return f"{rnd.uniform(lo, hi):.{places}f}".replace(".", ",")


def timestamp(rnd):
    return (f"20{rnd.randint(18, 25):02d}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d} "
            f"{rnd.randint(0, 23):02d}:{rnd.randint(0, 59):02d}:{rnd.randint(0, 59):02d}")


def company(rnd):
    name = f"{rnd.choice(WORDS)} {rnd.choice(WORDS)} {rnd.choice(SUFFIXES)}"
    r = rnd.random()
    if r < 0.05:
        name += "; Nord"  # embedded delimiter
    elif r < 0.10:
        name = f'The "{name}"'  # embedded quotes
    return name


def write_csv(path, header, rows, encoding):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    text = ";".join(quoted(h) for h in header) + "\n" + "".join(";".join(r) + "\n" for r in rows)
    with open(path, "wb") as f:
        f.write(text.encode(encoding))


def ingest_rows(rnd, n, first_id):
    for i in range(n):
        yield [
            str(first_id + i),
            quoted(f"R{rnd.randrange(50):02d}"),
            quoted(company(rnd)),
            "NULL" if rnd.random() < 0.03 else comma_decimal(rnd, -5000, 50000, 2),
            str(rnd.randint(1, 20)),
            quoted(timestamp(rnd)),
            quoted("HOLD" if rnd.random() < 0.08 else rnd.choice(["OPEN", "CLOSED"])),
            "NULL" if rnd.random() < 0.10 else quoted(rnd.choice(NOTES)),
        ]


def export_rows(rnd, n, first_id):
    for i in range(n):
        r = rnd.random()
        # tiny and huge magnitudes exercise plain (never scientific) output
        ratio = f"{rnd.random():.6f}" if r < 0.9 else ("0.0000001" if r < 0.95 else "123456789012.5")
        yield [
            str(first_id + i),
            "NULL" if rnd.random() < 0.05 else quoted(company(rnd)),
            "NULL" if rnd.random() < 0.05 else comma_decimal(rnd, 0, 9999, 2),
            ratio.replace(".", ","),
            quoted(timestamp(rnd)),
            quoted(rnd.choice(["Y", "N"])),
        ]


INGEST_HEADER = ["id", "region", "customer", "amount", "qty", "created", "status", "note"]
EXPORT_HEADER = ["id", "name", "price", "ratio", "ts", "flag"]


def gen_csv(seed, work):
    rnd = random.Random(seed)
    counts = []
    for k, name in enumerate(INGEST_FILES):
        write_csv(os.path.join(work, "csv", "ingest", name), INGEST_HEADER,
                  ingest_rows(rnd, INGEST_ROWS, k * 1_000_000), "utf-8")
        counts.append((name, INGEST_ROWS))
    for t in range(EXPORT_TABLES):
        name = f"t{t:02d}.csv"
        write_csv(os.path.join(work, "csv", "export", name), EXPORT_HEADER,
                  export_rows(rnd, EXPORT_ROWS, t * 100_000), "cp1252")
        counts.append((name, EXPORT_ROWS))
    with open(os.path.join(work, "csv", "rows.tsv"), "w") as f:
        f.writelines(f"{name}\t{n}\n" for name, n in counts)


def permuted_copy(src, dst, rnd):
    """Rows shuffled, schema and row-group sizes kept."""
    pf = pq.ParquetFile(src)
    groups = [pf.metadata.row_group(i).num_rows for i in range(pf.metadata.num_row_groups)]
    table = pf.read()
    order = list(range(table.num_rows))
    rnd.shuffle(order)
    table = table.take(order)
    with pq.ParquetWriter(dst, table.schema, compression="snappy") as w:
        start = 0
        for g in groups:
            w.write_table(table.slice(start, g), row_group_size=g)
            start += g


def gen_corpus(seed, work):
    """``corpus/pNNN/<scale>/<table>.parquet`` for every vendored table."""
    tables = sorted(os.path.join(scale, f) for scale in os.listdir(DATA)
                    for f in os.listdir(os.path.join(DATA, scale)) if f.endswith(".parquet"))
    rnd = random.Random(seed)
    for p in range(CORPUS_COPIES):
        for t in tables:
            dst = os.path.join(work, "corpus", f"p{p:03d}", t)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            permuted_copy(os.path.join(DATA, t), dst, rnd)
    with open(os.path.join(work, "corpus_rows.tsv"), "w") as f:
        for t in tables:
            f.write(f"{t[:-len('.parquet')]}\t{pq.ParquetFile(os.path.join(DATA, t)).metadata.num_rows}\n")


def generate(workload, seed, work):
    if workload == "csv_jobs":
        gen_csv(seed, work)
    else:
        gen_corpus(seed, work)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
