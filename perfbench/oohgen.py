"""Seeded synthetic OOH compilation for the ``ooh_etl`` workload.

The size is fixed; the seed varies only content: title words, wage
digits, and how often each fixture occupation repeats (so the share of
occupations the long-quality filter keeps varies with the seed).
``generate`` also returns the report the reference pipeline must
produce on the file, derived here without Spark.
"""

from __future__ import annotations

import hashlib
import random
import re

#: The fixture occupations ``q_ooh_report`` keeps (its oracle), with
#: their growth-rating codes. Every other fixture occupation has no
#: Important Qualities key longer than 26 characters and is dropped.
KEPT_CODES = {"Software Developers": "A", "Actors": "B"}

#: Masked occupation: its fields are nulled by the record projection, so
#: its title is kept verbatim.
MILITARY = "Military Careers"

WORDS = (
    "Senior Junior Lead Chief Assistant Associate Regional Field Staff "
    "Principal Applied Clinical Digital Industrial Marine Urban Rural"
).split()

_OCC = re.compile(r"<occupation>.*?</occupation>", re.DOTALL)
_TITLE = re.compile(r"<title>(.*?)</title>")
_ANNUAL = re.compile(r"(<qf_median_pay_annual><value>)[^<]*(</value>)")
_HOURLY = re.compile(r"(<qf_median_pay_hourly><value>)[^<]*(</value>)")
_PAY_FIGURE = re.compile(r"\$[0-9][0-9,]*(\.[0-9]+)?")


def report_digest(pairs) -> str:
    """Order-insensitive digest of (title, line) report rows."""
    h = hashlib.sha256()
    for title, line in sorted(pairs):
        h.update(f"{title}\x1f{line}\x1e".encode())
    return h.hexdigest()


def generate(fixture: str, path: str, seed: int, n_occupations: int) -> dict:
    """Write ``n_occupations`` occupations to ``path``; return the
    expected report digest and row counts."""
    with open(fixture, encoding="utf-8") as f:
        occs = _OCC.findall(f.read())
    bases = [_TITLE.search(o).group(1) for o in occs]
    rng = random.Random(seed)
    # A narrow spread keeps the bytes per file, and so the work per
    # execution, nearly the same from seed to seed.
    weights = [rng.uniform(0.85, 1.15) for _ in occs]
    expected = []
    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<ooh_xml_compilation>\n')
        for i in range(n_occupations):
            j = rng.choices(range(len(occs)), weights)[0]
            occ, base = occs[j], bases[j]
            if base != MILITARY:
                title = f"{base} {rng.choice(WORDS)} {i}"
                annual = rng.randrange(20_000, 250_000)
                occ = occ.replace(f"<title>{base}</title>", f"<title>{title}</title>", 1)
                occ = _ANNUAL.sub(rf"\g<1>{annual}\g<2>", occ, count=1)
                hourly = f"{annual / 2080:.2f}"
                occ = _HOURLY.sub(rf"\g<1>{hourly}\g<2>", occ, count=1)
                occ = _PAY_FIGURE.sub(
                    lambda m: f"${hourly}" if m.group(1) else f"${annual:,}", occ, count=1
                )
                if base in KEPT_CODES:
                    line = f"Job: {title} Salary: {annual} Growth Rating: {KEPT_CODES[base]}"
                    expected.append((title, line))
            f.write(occ)
            f.write("\n")
        f.write("</ooh_xml_compilation>\n")
    return {
        "digest": report_digest(expected),
        "report_rows": len(expected),
        "occupations": n_occupations,
    }
