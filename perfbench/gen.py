"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files and ZIP archives. The program under test
only ever sees these files.

* ``catalog_tables`` writes the parquet tables the iterative workload
  reads, with the column names and types of the engine's test data;
  ``ivfpq_requests`` derives the store requests and their exact answers.
* ``tse_batches`` writes one candidacies ZIP and one votes ZIP per
  election year, each a set of per-state latin-1 ``;`` CSVs, and returns
  the table contents the four pipelines must leave behind.
"""
import datetime
import hashlib
import io
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return table.num_rows, path.stat().st_size


def catalog_tables(out_dir, seed, n_vecs, dim=64):
    """Write the tables the iterative workload reads, in the engine's test
    data layout (``<out_dir>/<name>.parquet``): ``nation`` for the catalog
    query, ``embeddings`` for the IVF×PQ store. Returns {name: (rows,
    bytes)}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    vecs, labels = embeddings(seed, n_vecs, dim)
    return {
        "nation": _write(pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }), out / "nation.parquet"),
        "embeddings": _write(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }), out / "embeddings.parquet"),
    }


def ivfpq_requests(seed, n_vecs, n_req, dim=64):
    """Top-10 requests against ``catalog_tables``' embeddings: each a query
    near a random corpus vector, with every corpus id's exact squared L2
    to it (indexed by ``vec_id``), so answers can be checked exactly."""
    vecs, _ = embeddings(seed, n_vecs, dim)
    rng = np.random.default_rng([seed, 4])
    out = []
    for i in rng.integers(0, n_vecs, n_req):
        q = (vecs[i] + rng.normal(scale=0.05, size=dim)).astype(np.float32)
        exact = ((vecs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
        out.append({"vec": q.tolist(), "exact": exact.tolist()})
    return out


def embeddings(seed, n, dim, n_labels=10):
    """Unit vectors scattered around ``n_labels`` random centres."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centres[labels] + rng.normal(scale=0.9, size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


# --- TSE candidacy/vote batches -------------------------------------------

UFS = ["SP", "MG", "RJ", "BA", "RS", "PR", "PE", "CE"]
FIRST = ["José", "João", "Maria", "Ana", "Antônio", "Francisco", "Conceição",
         "Luís", "Inês", "Sebastião", "Raimundo", "Lúcia", "Márcio", "Célia",
         "André", "Fábio", "Débora", "Simão", "Júlia", "Vânia"]
LAST = ["da Silva", "Araújo", "Gonçalves", "Simões", "Magalhães", "Brandão",
        "Conceição", "Assunção", "Falcão", "Guimarães", "Damião", "Romão",
        "Leão", "Pereira", "Sousa", "Gomes"]
OFFICES = {"municipal": ["Prefeito", "Vereador", "Vereador", "Vereador"],
           "general": ["Deputado Federal", "Deputado Estadual",
                       "Deputado Estadual", "Senador", "Governador"]}
STATUS = ["ELEITO", "NÃO ELEITO", "SUPLENTE", "ELEITO POR MÉDIA", "2º TURNO"]
CAND_COLS = ["ANO_ELEICAO", "NR_TURNO", "DS_ELEICAO", "SG_UF", "SQ_CANDIDATO",
             "NR_CANDIDATO", "NM_CANDIDATO", "NM_URNA_CANDIDATO", "DS_CARGO",
             "NR_PARTIDO", "SG_PARTIDO", "NM_PARTIDO"]
VOTE_COLS = ["ANO_ELEICAO", "NR_TURNO", "SG_UF", "NR_ZONA", "SQ_CANDIDATO",
             "QT_VOTOS", "DS_SIT_TOT_TURNO"]
YEARS = [(2018, "general", "Eleição Geral Federal 2018"),
         (2020, "municipal", "Eleições Municipais 2020")]


def _zip_csvs(path, members):
    """ZIP of latin-1 CSV members with fixed timestamps: byte-identical
    for identical content."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, header, rows in members:
            text = ";".join(header) + "\n" + "".join(
                ";".join(str(c) for c in r) + "\n" for r in rows)
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, text.encode("latin-1"))
    path.write_bytes(buf.getvalue())
    return path.stat().st_size


def _parties(rng, n):
    """Party roster: number, initials, name. Numbers are what the votes
    key on; names are unique per number within one year."""
    nums = sorted(rng.choice(np.arange(10, 91), n, replace=False).tolist())
    return [(int(p), f"P{p}", f"Partido Número {p} da União")
            for p in nums]


def tse_batches(out_dir, seed, n_cand):
    """Write ``cand_<year>.zip``/``votes_<year>.zip`` per election year.

    Returns (batches, expected, stats): batches is a list of (year,
    cand_zip, votes_zip); expected holds the canonical rows every sink
    table must hold after the last batch and the per-batch miss sets;
    stats holds each batch's input rows and ZIP bytes by year."""
    rng = np.random.default_rng([seed, 3])
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    roster = _parties(rng, 30)
    # politicians recur across years; (full_name, nickname) is unique
    pool = []
    seen = set()
    while len(pool) < int(n_cand * 1.6):
        f, l1, l2 = (rng.choice(FIRST), rng.choice(LAST), rng.choice(LAST))
        full = f"{f} {l1} {l2}".upper()
        nick = f"{f} {l2.split()[-1]}" if rng.random() < 0.5 else f"{f} {len(pool)}"
        if (full, nick) not in seen:
            seen.add((full, nick))
            pool.append((full, nick))
    zipf = 1.0 / np.arange(1, len(roster) + 1) ** 1.1
    zipf /= zipf.sum()

    # each sink table's checked columns after the batches so far, by key
    tables = {t: {} for t in ("parties", "politicians", "elections",
                              "candidacies")}
    batches, misses, changed_rows, in_rows, in_bytes = [], {}, {}, {}, {}
    for bi, (year, kind, desc) in enumerate(YEARS):
        names = dict((p, (ini, nm)) for p, ini, nm in roster)
        if bi == len(YEARS) - 1:  # a rename in the last year: upsert wins
            p0 = roster[0][0]
            names[p0] = (f"N{p0}", f"Novo Partido {p0} Ação")
        picks = rng.choice(len(pool), n_cand, replace=False)
        party_of = rng.choice([p for p, _, _ in roster], n_cand, p=zipf)
        cand_rows = {uf: [] for uf in UFS}
        vote_rows = {uf: [] for uf in UFS}
        batch_cands = []
        for i, (pi, party) in enumerate(zip(picks, party_of)):
            full, nick = pool[pi]
            party = int(party)
            uf = UFS[int(rng.integers(0, len(UFS)))]
            sq = year * 10_000_000 + i
            office = rng.choice(OFFICES[kind])
            num = party * 1000 + i % 1000
            ini, pname = names[party]
            turns = [1, 2] if rng.random() < 0.05 else [1]
            status = STATUS[int(rng.integers(0, len(STATUS)))]
            total = 0
            for t in turns:
                cand_rows[uf].append((year, t, desc, uf, sq, num, full, nick,
                                      office, party, ini, pname))
                for z in range(int(rng.integers(6, 15))):
                    v = int(rng.zipf(1.6)) % 50_000
                    total += v
                    vote_rows[uf].append((year, t, uf, z + 1, sq, v, status))
            batch_cands.append((sq, turns, full, nick, party, office, num,
                                total, status))
        # vote keys with no candidacy: the reference's miss warning
        batch_miss = sorted(year * 10_000_000 + 9_000_000 + j
                            for j in range(max(n_cand // 100, 1)))
        for sq in batch_miss:
            uf = UFS[sq % len(UFS)]
            vote_rows[uf].append((year, 1, uf, 1, sq, 7, "NÃO ELEITO"))
        misses[year] = [str(s) for s in batch_miss]
        seeded = {(sq, year, t): ((full, nick, party, year, t, desc, office,
                                   num, str(sq)), (total, status))
                  for sq, turns, full, nick, party, office, num, total, status
                  in batch_cands for t in turns}
        # rows whose checked columns the batch's sink writes change: new
        # keys plus keys with new values. Candidacies are written twice,
        # first without results, then with them; a recurring politician's
        # fresh politician_id is not a checked column.
        changed_rows[year] = sum(_upsert(tables[t], rows) for t, rows in [
            ("parties", {c[4]: names[c[4]] for c in batch_cands}),
            ("politicians", {(c[2], c[3]): () for c in batch_cands}),
            ("elections", {(year, t, desc): (datetime.date(year, 10, 2 if t == 1 else 30),)
                           for c in batch_cands for t in c[1]}),
            ("candidacies", {k: row + (None, None) for k, (row, _) in seeded.items()}),
            ("candidacies", {k: row + res for k, (row, res) in seeded.items()}),
        ])
        cz = out / f"cand_{year}.zip"
        vz = out / f"votes_{year}.zip"
        in_bytes[year] = _zip_csvs(cz, [(f"consulta_cand_{year}_{uf}.csv",
                                       CAND_COLS, cand_rows[uf]) for uf in UFS])
        in_bytes[year] += _zip_csvs(vz, [(f"votacao_candidato_munzona_{year}_{uf}.csv",
                                        VOTE_COLS, vote_rows[uf]) for uf in UFS])
        in_rows[year] = sum(len(r) for r in cand_rows.values())
        in_rows[year] += sum(len(r) for r in vote_rows.values())
        batches.append((year, str(cz), str(vz)))

    # a table's rows are its key columns then its value columns, except
    # candidacies, whose values already hold the key
    expected = {t: digest_rows(
        list(rows.values()) if t == "candidacies" else
        [(k if isinstance(k, tuple) else (k,)) + v for k, v in rows.items()])
        for t, rows in tables.items()}
    expected.update(misses=misses, changed_rows=changed_rows)
    return batches, expected, {"rows": in_rows, "bytes": in_bytes}


def _upsert(table, rows):
    """Merge ``rows`` ({key: values}) into ``table``; returns how many
    keys were new or got new values."""
    changed = sum(table.get(k) != v for k, v in rows.items())
    table.update(rows)
    return changed


def canon(v):
    """One cell as the benchmark's canonical text (shared with the JVM
    side: integers in decimal, null as \\N, dates ISO)."""
    return "\\N" if v is None else str(v)


def digest_rows(rows):
    """Order-insensitive digest: count plus sha256 over sorted canonical
    lines."""
    lines = sorted("\t".join(canon(c) for c in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    return {"count": len(lines), "sha256": h}
