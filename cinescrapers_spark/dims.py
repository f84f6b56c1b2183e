"""Dimension tables.

``cinemas``: the reference ships a 27-row static dimension
(``/root/reference/src/cinescrapers/cinema_details.py:3-274``) keyed by a
unique 2-char shortcode with a regex-computed ``postcode`` column. We keep
the real (public) shortcode→site mapping — it is also the crawl seed list
per BASELINE.md §C — and generate the remaining attributes deterministically
(seeded) rather than copying the reference rows.

``hosts``: the generalized politeness dimension (host → rank, crawl-delay,
robots rules) the scheduler broadcast-joins against.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession

from cinescrapers_spark.schemas import CINEMA, HOST
from cinescrapers_spark.session import local_frame

# (shortcode, scraper_name, url) — public facts from the reference
# (cinema_details.py:3-274 / scrapers/*). Also the bench seed list.
CINEMA_SITES: list[tuple[str, str, str]] = [
    ("IC", "ica", "https://www.ica.art"),
    ("PC", "prince_charles_cinema", "https://princecharlescinema.com"),
    ("CU", "close_up_film_centre", "https://www.closeupfilmcentre.com"),
    ("BF", "bfi", "https://www.bfi.org.uk"),
    ("BB", "barbican", "https://www.barbican.org.uk"),
    ("CS", "castle", "https://thecastlecinema.com"),
    ("PP", "peckhamplex", "https://peckhamplex.london"),
    ("GS", "genesis", "https://www.genesiscinema.co.uk"),
    ("RI", "rio", "https://riocinema.org.uk"),
    ("AH", "arthouse", "https://www.arthousecrouchend.co.uk"),
    ("AZ", "arzner", "https://thearzner.com"),
    ("LX", "lexi", "https://thelexicinema.co.uk"),
    ("GD", "garden", "https://www.thegardencinema.co.uk"),
    ("RM", "richmix", "https://richmix.org.uk/whats-on/cinema/"),
    ("BR", "bertha", "https://dochouse.org"),
    ("KN", "kiln", "https://kilntheatre.com"),
    ("LR", "romfordlumiere", "https://www.lumiereromford.com"),
    ("RG", "regentstreet", "https://www.regentstreetcinema.com"),
    ("PX", "phoenix", "https://www.phoenixcinema.co.uk"),
    ("TY", "throwleyyard", "https://throwleyyardcinema.co.uk"),
    ("CL", "cinelumiere", "https://www.institut-francais.org.uk/whats-on/cinema/"),
    ("CC", "chiswickcinema", "https://www.chiswickcinema.co.uk"),
    ("EP", "electriccinema", "https://www.electriccinema.co.uk/portobello/"),
    ("EW", "electriccinema", "https://www.electriccinema.co.uk/white-city/"),
    ("CB", "coldharbourblue", "https://www.coldharbourblue.com"),
    ("AC", "actone", "https://www.actonecinema.co.uk"),
    ("CR", "cinereal", "https://www.cine-real.com"),
]

_PC_AREAS = ["SW1A", "E1", "N1", "SE15", "W11", "NW6", "EC2Y", "W1D", "E8", "N8"]
_STREETS = ["High Street", "Market Road", "Station Parade", "Green Lanes", "The Mall"]


def cinema_rows(seed: int = 42) -> list[dict]:
    """Deterministic 27-row dimension over the real site list."""
    rng = random.Random(seed)
    rows = []
    for i, (code, scraper, url) in enumerate(CINEMA_SITES):
        area = _PC_AREAS[i % len(_PC_AREAS)]
        postcode = f"{area} {rng.randint(1, 9)}{chr(65 + i % 26)}{chr(66 + i % 24)}"
        name = scraper.replace("_", " ").title() + " Cinema"
        rows.append(
            {
                "shortcode": code,
                "shortname": scraper,
                "name": name,
                "url": url,
                "address": f"{rng.randint(1, 200)} {_STREETS[i % len(_STREETS)]}, "
                f"London {postcode}",
                "phone": f"020 {rng.randint(1000, 9999)} {rng.randint(1000, 9999)}"
                if rng.random() > 0.2
                else None,
                "latitude": 51.4 + rng.random() * 0.2,
                "longitude": -0.25 + rng.random() * 0.3,
                "postcode": postcode,
            }
        )
    return rows


def cinemas_df(spark: SparkSession, seed: int = 42) -> DataFrame:
    return local_frame(spark, cinema_rows(seed), CINEMA)


def seed_hosts() -> list[str]:
    """Distinct hosts from the 27 cinema sites — the crawl seed list."""
    hosts = []
    for _, _, url in CINEMA_SITES:
        h = url.split("://", 1)[1].split("/", 1)[0].lower()
        if h not in hosts:
            hosts.append(h)
    return hosts


def hosts_df(
    spark: SparkSession,
    extra_hosts: list[str] | None = None,
    seed: int = 42,
    default_budget: int = 25,
) -> DataFrame:
    """Politeness dimension. ``max_per_tick`` defaults to 25, mirroring the
    reference's Semaphore(25) page cap (bfi/scrape.py:117); crawl_delay
    draws from {0.1, 1, 5} (5 mirrors rapidapi's sleep(5))."""
    rng = random.Random(seed)
    rows = []
    for h in seed_hosts() + list(extra_hosts or []):
        rows.append(
            {
                "host": h,
                "host_rank": round(rng.uniform(0.1, 1.0), 6),
                "crawl_delay": rng.choice([0.1, 1.0, 5.0]),
                "robots_disallow": ["/admin", "/private"] if rng.random() < 0.3 else [],
                "max_per_tick": default_budget,
            }
        )
    return local_frame(spark, rows, HOST)
