"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the run's --seed, so the
same seed always yields byte-identical inputs. Each returns a dict of input
sizes, which the benchmark prints alongside its metrics.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- PTA array

# (group, band, backend, frontend, centre MHz): a PPTA-style backend set.
BACKENDS = [
    ("PDFB_10CM", "10CM", "PDFB4", "1050CM", 3100.0),
    ("PDFB_20CM", "20CM", "PDFB4", "MULTI", 1369.0),
    ("CASPSR_40CM", "40CM", "CASPSR", "1050CM", 732.0),
    ("WBCORR_20CM", "20CM", "WBCORR", "H-OH", 1433.0),
]


def pulsar_names(rng, n):
    names = set()
    while len(names) < n:
        ra = rng.integers(0, 24 * 60)
        dec = rng.integers(-89 * 60, 89 * 60)
        sign = "+" if dec >= 0 else "-"
        names.add(f"J{ra // 60:02d}{ra % 60:02d}{sign}{abs(dec) // 60:02d}{abs(dec) % 60:02d}")
    return sorted(names)


def gen_pta(out_dir, rng, n_psr, median_toas, big_factor):
    """One `.tim` + `.par` per pulsar. TOA counts are skewed: the first
    pulsar has `big_factor` times the count of every other one."""
    os.makedirs(out_dir, exist_ok=True)
    psrs = pulsar_names(rng, n_psr)
    manifest = {}
    for i, psr in enumerate(psrs):
        n = median_toas * big_factor if i == 0 else median_toas
        mjd = np.sort(rng.uniform(53000.0, 58000.0, n))
        frac_digits = rng.integers(0, 10**13, n)
        back = rng.integers(0, len(BACKENDS), n)
        # every backend appears at least once, so the key set is all four
        back[: len(BACKENDS)] = np.arange(len(BACKENDS))
        err = rng.uniform(0.1, 3.0, n)
        lines = ["FORMAT 1"]
        for j in range(n):
            g, band, be, fe, f0 = BACKENDS[back[j]]
            freq = f0 + rng.uniform(-64.0, 64.0)
            lines.append(
                f" {psr}_{j}.rf {freq:.3f} {int(mjd[j])}.{frac_digits[j]:013d} {err[j]:.3f} pks"
                f" -group {g} -B {band} -be {be} -fe {fe} -pta PPTA")
        with open(f"{out_dir}/{psr}.tim", "w") as f:
            f.write("\n".join(lines) + "\n")
        jumps = [BACKENDS[k][0] for k in rng.choice(len(BACKENDS), 2, replace=False)]
        par = [
            f"PSRJ {psr}",
            f"RAJ {psr[1:3]}:{psr[3:5]}:00.0",
            f"DECJ {psr[5:8]}:{psr[8:10]}:00.0",
            f"F0 {rng.uniform(50, 600):.15f} 1 1e-13",
            f"F1 {-rng.uniform(1e-16, 1e-14):.6e} 1 1e-20",
            "PEPOCH 55500",
            f"DM {rng.uniform(2, 300):.6f} 1 1e-4",
            f"START {mjd[0]:.6f}",
            f"FINISH {mjd[-1]:.6f}",
        ] + [f"JUMP -group {g} {rng.uniform(-1e-4, 1e-4):.9f} 1" for g in jumps] + [
            f"#TNEF -group {g[0]} {rng.uniform(0.8, 1.5):.3f}" for g in BACKENDS]
        with open(f"{out_dir}/{psr}.par", "w") as f:
            f.write("\n".join(par) + "\n")
        manifest[psr] = {"n_toas": int(n), "backends": sorted({BACKENDS[k][0] for k in back})}
    with open(f"{out_dir}/manifest.tsv", "w") as f:
        for psr, m in manifest.items():
            f.write(f"{psr}\t{m['n_toas']}\t{','.join(m['backends'])}\n")
    sizes = [m["n_toas"] for m in manifest.values()]
    return {"pulsars": n_psr, "toas": int(sum(sizes)), "max_toas": int(max(sizes)),
            "median_toas": int(np.median(sizes)), "bytes": dir_bytes(out_dir)}


# ------------------------------------------------------------ PTA posterior

def hellings_downs(cos_zeta):
    """Hellings-Downs ORF without the auto term; 0 at zero separation."""
    x = (1.0 - cos_zeta) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        g = 1.5 * x * np.log(x) - x / 4.0 + 0.5
    return np.where(cos_zeta >= 1.0, 0.0, g)


def gen_posterior(out_dir, rng, n_steps, n_chain_psr, n_models, n_pieces,
                  n_os_psr, n_draws):
    """Sampler output: `chain_1.txt` plus separated timestamped pieces,
    `pars.txt`, a pulsar position table and per-draw OS cross-correlations
    carrying an injected Hellings-Downs signal."""
    os.makedirs(out_dir, exist_ok=True)
    psrs = pulsar_names(rng, n_chain_psr)
    pars = []
    for psr in psrs:
        for g, *_ in BACKENDS[:2]:
            pars += [f"{psr}_{g}_efac", f"{psr}_{g}_log10_equad"]
        pars += [f"{psr}_red_noise_log10_A", f"{psr}_red_noise_gamma"]
    pars.append("nmodel")
    npar = len(pars)
    truth = rng.uniform(-2.0, 2.0, npar)
    # model posterior weights: every model visited, unequally
    weights = rng.uniform(1.0, 3.0, n_models)
    weights /= weights.sum()

    def chunk(n):
        vals = truth + rng.normal(0.0, 0.3, (n, npar))
        model = rng.choice(n_models, n, p=weights)
        vals[:, -1] = model + rng.uniform(-0.45, 0.45, n)
        diag = rng.normal(0.0, 1.0, (n, 4))
        return np.hstack([vals, diag])

    per_piece = n_steps // (n_pieces + 1)
    np.savetxt(f"{out_dir}/chain_1.txt", chunk(n_steps - per_piece * n_pieces), fmt="%.10g")
    for k in range(n_pieces):
        ts = 20240101000000 + 1000000 * k + int(rng.integers(0, 999999))
        np.savetxt(f"{out_dir}/chain_{ts}.txt", chunk(per_piece), fmt="%.10g")
    with open(f"{out_dir}/pars.txt", "w") as f:
        f.write("\n".join(pars) + "\n")

    # pulsar positions (radians) and the per-draw cross-correlations
    ra = rng.uniform(0.0, 2 * math.pi, n_os_psr)
    dec = np.arcsin(rng.uniform(-1.0, 1.0, n_os_psr))
    names = pulsar_names(rng, n_os_psr)
    pq.write_table(pa.table({"psr": names, "idx": np.arange(n_os_psr, dtype=np.int32),
                             "ra": ra, "dec": dec}), f"{out_dir}/positions.parquet")
    ia, ib = np.triu_indices(n_os_psr, 1)
    v = np.stack([np.cos(dec) * np.cos(ra), np.cos(dec) * np.sin(ra), np.sin(dec)], 1)
    orf = hellings_downs(np.clip((v[ia] * v[ib]).sum(1), -1.0, 1.0))
    amp = float(rng.uniform(1.5, 3.0))
    sig = rng.uniform(0.02, 0.06, len(ia))
    draws = np.repeat(np.arange(n_draws, dtype=np.int32), len(ia))
    amp_d = amp + rng.normal(0.0, 0.05, n_draws)
    rho = (np.repeat(amp_d, len(ia)) * np.tile(orf, n_draws)
           + np.tile(sig, n_draws) * rng.normal(0.0, 1.0, n_draws * len(ia)))
    pq.write_table(pa.table({"draw": draws, "ia": np.tile(ia, n_draws).astype(np.int32),
                             "ib": np.tile(ib, n_draws).astype(np.int32), "rho": rho,
                             "sig": np.tile(sig, n_draws)}), f"{out_dir}/os_rho.parquet")
    with open(f"{out_dir}/manifest.tsv", "w") as f:
        f.write(f"n_models\t{n_models}\nn_draws\t{n_draws}\n"
                f"amp\t{float(amp_d.mean())!r}\n")
    return {"steps": n_steps, "chain_cols": npar + 4, "pieces": n_pieces + 1,
            "models": n_models, "os_pulsars": n_os_psr, "draws": n_draws,
            "bytes": dir_bytes(out_dir)}


# ------------------------------------------------------------- documents

WORDS = ("a the data query table row column key value join group order sort "
         "hash scan filter agg window merge batch stream spark part line "
         "customer vector fast slow big small").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def documents_table(rng, n_docs):
    """`documents` with the curation stages' targets mixed in at fixed
    shares, so every seed gives the same amount of work: 10% near-dups of
    earlier docs (a few words changed), 5% repetitive docs, 5% token-salad
    low-quality docs and 5% training docs copied from held-out eval docs
    (doc_id % 10 == 0); the kind of each doc is a seeded shuffle."""
    kinds = np.array(["plain"] * n_docs, dtype=object)
    slots = rng.permutation(np.array([i for i in range(20, n_docs) if i % 10 != 0]))
    counts = {"near_dup": n_docs // 10, "repeat": n_docs // 20, "salad": n_docs // 20,
              "eval_copy": n_docs // 20}
    start = 0
    for kind, n in counts.items():
        kinds[slots[start:start + n]] = kind
        start += n
    texts = []
    for i, kind in enumerate(kinds):
        if kind == "near_dup":
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        elif kind == "repeat":
            texts.append(" ".join([str(rng.choice(WORDS))] * int(rng.integers(20, 60))))
        elif kind == "salad":
            texts.append(" ".join("".join(rng.choice(list("qxzjkvw"), int(rng.integers(4, 9))))
                                  for _ in range(int(rng.integers(15, 40)))))
        elif kind == "eval_copy":
            texts.append(texts[10 * int(rng.integers(0, i // 10))])
        else:
            # lengths cycle through 8..90 words, so every seed has the same
            # text volume
            texts.append(" ".join(rng.choice(WORDS, 8 + (i * 37) % 83)))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# --------------------------------------------------------- star schema

def _ts(days, base="1995-01-01"):
    return (np.datetime64(base, "us") + (days * 86400e6).astype("timedelta64[us]"))


def gen_star(out_dir, rng, n_orders, n_docs):
    """The tables the query_mix queries read: TPC-H-style `customer`,
    `orders` and `lineitem`, plus `events` and `documents`, with the column
    types and value ranges the query modules expect."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = n_orders // 10, max(20, n_orders // 150), max(50, n_orders // 8)
    w = lambda name, cols: pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")
    w("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                   "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                   "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                               "HOUSEHOLD", "MACHINERY"], n_cust)})
    # part retail prices, from which the line prices are derived
    price = np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)
    odays = rng.integers(0, 2405, n_orders).astype(np.float64)
    nlines = rng.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders, dtype=np.int64), nlines)
    nl = len(lok)
    lpart = rng.integers(0, n_part, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ext = np.round(qty * price[lpart], 2)
    ship = odays[lok] + rng.integers(1, 95, nl)
    shipped = ship < 2000
    w("lineitem", {"l_orderkey": lok, "l_partkey": lpart.astype(np.int64),
                   "l_suppkey": rng.integers(0, n_supp, nl).astype(np.int64),
                   "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32),
                   "l_quantity": qty, "l_extendedprice": ext,
                   "l_discount": rng.integers(0, 11, nl) / 100.0,
                   "l_tax": rng.integers(0, 9, nl) / 100.0,
                   "l_returnflag": np.where(shipped, rng.choice(["R", "A"], nl), "N"),
                   "l_linestatus": np.where(shipped, "F", "O"),
                   "l_shipdate": _ts(ship)})
    total = np.bincount(lok, weights=ext, minlength=n_orders)
    w("orders", {"o_orderkey": np.arange(n_orders, dtype=np.int64),
                 "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                 "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                 "o_totalprice": np.round(total, 2),
                 "o_orderdate": _ts(odays),
                 "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    n_ev = n_orders * 2 // 3
    n_users = max(20, n_ev // 66)
    w("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                 "ts": _ts(np.sort(rng.uniform(0.0, 30.0, n_ev)), "2024-01-01"),
                 "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                 "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
                 "value": np.round(rng.exponential(20.0, n_ev), 2) + 0.01,
                 "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    pq.write_table(documents_table(rng, n_docs), f"{out_dir}/documents.parquet")
    return {"orders": n_orders, "lineitem": nl, "docs": n_docs, "events": n_ev,
            "bytes": dir_bytes(out_dir)}


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)
