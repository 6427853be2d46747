"""Writes the committed FIXTURES.md tier-(b) PPTA-style pair
src/test/resources/ppta/J1832-0836.{tim,par} (numpy seed 1832):

    python3 scripts/gen_ppta_fixture.py [out_dir]

72 TOAs on three `-group` backends with `-B/-be/-fe/-pta` flags; the `.par`
carries DM, two JUMP rows and commented #TNEF/#TNEQ lines."""
import os
import sys

import numpy as np

out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "src", "test", "resources", "ppta")
os.makedirs(out, exist_ok=True)
rng = np.random.default_rng(1832)
psr = "J1832-0836"
# (group, band, backend, frontend, centre MHz)
B = [("PDFB_10CM", "10CM", "PDFB4", "1050CM", 3100.0),
     ("PDFB_20CM", "20CM", "PDFB4", "MULTI", 1369.0),
     ("CASPSR_40CM", "40CM", "CASPSR", "1050CM", 732.0)]
n = 72
mjd = np.sort(rng.uniform(55600.0, 58900.0, n))
frac = rng.integers(0, 10**13, n)
back = rng.integers(0, len(B), n)
back[:len(B)] = np.arange(len(B))
err = rng.uniform(0.2, 4.0, n)
lines = ["FORMAT 1", "MODE 1"]
for j in range(n):
    g, band, be, fe, f0 = B[back[j]]
    freq = f0 + rng.uniform(-128.0, 128.0)
    lines.append(f" {psr[1:5]}_{j:03d}.rf {freq:.3f} {int(mjd[j])}.{frac[j]:013d} {err[j]:.3f} pks"
                 f" -group {g} -B {band} -be {be} -fe {fe} -pta PPTA")
open(f"{out}/{psr}.tim", "w").write("\n".join(lines) + "\n")
par = [f"PSRJ {psr}", "RAJ 18:32:27.5923449 1", "DECJ -08:36:55.01290 1",
       "F0 367.76740181757538 1 1e-13", "F1 -1.1314e-15 1 1e-20", "PEPOCH 57246",
       "POSEPOCH 57246", "DMEPOCH 57246", "DM 28.1895 1 1e-4",
       f"START {mjd[0]:.6f}", f"FINISH {mjd[-1]:.6f}", "UNITS TDB", "CLK TT(BIPM2013)",
       "JUMP -group PDFB_20CM 0.000012310 1", "JUMP -group CASPSR_40CM -0.000003457 1"] + \
      [f"#TNEF -group {g[0]} {rng.uniform(0.8, 1.5):.3f}" for g in B] + \
      [f"#TNEQ -group {g[0]} {rng.uniform(-7.5, -6.0):.3f}" for g in B]
open(f"{out}/{psr}.par", "w").write("\n".join(par) + "\n")
