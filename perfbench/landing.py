"""Seeded landing-area generator for the firmo_daily workload.

Writes one directory per day (``day_000``, ``day_001``, ...), each with a
``sp500.json`` (Wikipedia scrape shape) and a ``fortune500_<year>.json``
(Fortune API shape) as described in FIXTURES.md sections 1-2. RAW's load
history is keyed by file path, so every day gets fresh paths.

Day 0 is the full load. Each later day drifts: revenues and ranks move,
a few companies change headquarters, flags flip, and companies are added
and dropped. Drift stays inside what the pipeline's test suite accepts,
so every ``RunPipeline`` call must exit 0.

Membership classes keep the expected state simple to derive:

- ``both``: in the Fortune list every day; may leave and re-enter the
  S&P list, so its core row is refreshed only on days it is in both;
- ``sp_only``: S&P members never ranked by Fortune (adds and drops);
- ``f_only``: Fortune companies never in the S&P list (adds and drops).

A company that has ever been ranked is ranked on every day it is listed
in the S&P file, so the core layer never joins a fresh S&P row to stale
Fortune data. ``Model`` replays the pipeline's documented semantics
(watermarked upserts, inner join on company name, SCD2 with the timestamp
strategy and hard-delete invalidation) to give the expected row counts
and snapshot versions after every day.
"""
import datetime as dt
import hashlib
import json
import os
import random

BASE_DAY = dt.datetime(2025, 1, 1)

SECTORS = [
    ("Industrials", "Industrial Conglomerates"), ("Industrials", "Aerospace & Defense"),
    ("Information Technology", "Software"), ("Information Technology", "Semiconductors"),
    ("Health Care", "Pharmaceuticals"), ("Health Care", "Health Care Equipment"),
    ("Financials", "Diversified Banks"), ("Financials", "Asset Management"),
    ("Energy", "Oil & Gas Refining"), ("Utilities", "Electric Utilities"),
    ("Consumer Staples", "Packaged Foods"), ("Consumer Discretionary", "Specialty Retail"),
    ("Materials", "Specialty Chemicals"), ("Real Estate", "Office REITs"),
    ("Communication Services", "Interactive Media")]
INDUSTRIES = [
    ("General Merchandisers", "Retailing"), ("Software", "Technology"),
    ("IT Services", "Technology"), ("Pharmaceuticals", "Health Care"),
    ("Commercial Banks", "Financials"), ("Petroleum Refining", "Energy"),
    ("Utilities: Gas and Electric", "Energy"), ("Food Consumer Products", "Food, Beverages & Tobacco"),
    ("Aerospace and Defense", "Aerospace & Defense"), ("Chemicals", "Chemicals"),
    ("Semiconductors", "Technology"), ("Insurance: Life, Health", "Financials")]
CITIES = [
    ("Bentonville", "AR", "Arkansas"), ("Springfield", "IL", "Illinois"),
    ("Austin", "TX", "Texas"), ("Houston", "TX", "Texas"), ("Dallas", "TX", "Texas"),
    ("Seattle", "WA", "Washington"), ("Redmond", "WA", "Washington"),
    ("San Jose", "CA", "California"), ("Palo Alto", "CA", "California"),
    ("Los Angeles", "CA", "California"), ("New York", "NY", "New York"),
    ("Rochester", "NY", "New York"), ("Boston", "MA", "Massachusetts"),
    ("Chicago", "IL", "Illinois"), ("Atlanta", "GA", "Georgia"),
    ("Charlotte", "NC", "North Carolina"), ("Raleigh", "NC", "North Carolina"),
    ("Denver", "CO", "Colorado"), ("Phoenix", "AZ", "Arizona"),
    ("Minneapolis", "MN", "Minnesota"), ("Saint Paul", "MN", "Minnesota"),
    ("Detroit", "MI", "Michigan"), ("Columbus", "OH", "Ohio"),
    ("Cincinnati", "OH", "Ohio"), ("Pittsburgh", "PA", "Pennsylvania"),
    ("Philadelphia", "PA", "Pennsylvania"), ("Miami", "FL", "Florida"),
    ("Tampa", "FL", "Florida"), ("Nashville", "TN", "Tennessee"),
    ("Portland", "OR", "Oregon"), ("Omaha", "NE", "Nebraska"),
    ("Raccoon City", "MO", "Missouri"), ("St. Louis", "MO", "Missouri")]
STEMS = ["Acme", "Globex", "Initech", "Umbrella", "Wayne", "Stark", "Tyrell",
         "Cyberdyne", "Soylent", "Hooli", "Vandelay", "Wonka", "Gringotts",
         "Oscorp", "Monarch", "Aperture", "Massive", "Dynamic", "Northwind",
         "Contoso", "Fabrikam", "Litware", "Proseware", "Adatum", "Tailspin",
         "Blue Yonder", "Coho", "Lucerne", "Margie", "Wingtip", "Alpine",
         "Fourth Coffee", "Humongous", "Trey", "Woodgrove", "Graphic",
         "Southridge", "Consolidated", "Pinnacle", "Summit", "Harbor", "Keystone",
         "Liberty", "Meridian", "Orion", "Pioneer", "Quantum", "Redwood"]
TAILS = ["Corp", "Inc", "Group", "Holdings", "Systems", "Industries",
         "Partners", "Technologies", "Energy", "Financial", "Brands",
         "Labs", "Networks", "Foods", "Health", "Motors", "Logistics",
         "Materials", "Media", "Capital", "Resources", "Retail", "Works",
         "Solutions", "Therapeutics", "Aerospace", "Utilities", "Bancorp"]
NOTES = ["conglomerate", "pharmaceuticals", "IT services", "class A", "holding company"]
FLAGS = ["Best Companies", "Change the World", "Dropped in Rank", "Future 50",
         "Global 500", "Profitable", "Newcomer to the Fortune 500", "Female CEO",
         "Founder is CEO", "Fastest Growing Companies", "World's Most Admired Companies"]

N_BOTH, N_SP_ONLY, N_F_ONLY = 350, 150, 650
BOTH_LATE = 15          # ranked companies that join the S&P list later
SP_RESERVE, F_RESERVE = 40, 80
DUP_CIKS = 3            # extra S&P rows sharing a CIK: 500 + 3 = 503 rows
HQ_MOVES, F_CHURN, SP_CHURN, FLAG_FLIPS = 4, 5, 3, 12


def surrogate_key(*parts):
    """dbt_utils.generate_surrogate_key over non-null string parts."""
    return hashlib.md5("-".join(parts).encode()).hexdigest()


def money(v):
    s = f"{abs(v):,.1f}".rstrip("0").rstrip(".")
    return ("-$" if v < 0 else "$") + s


class Company:
    def __init__(self, rng, name, cik, symbol):
        self.name, self.cik, self.symbol = name, cik, symbol
        self.slug = name.lower().replace(" ", "-").replace(".", "")
        self.security = name + (f" ({rng.choice(NOTES)})" if rng.random() < 0.3 else "")
        self.sector = rng.choice(SECTORS)
        self.industry = rng.choice(INDUSTRIES)
        self.city = rng.choice(CITIES)
        self.wiki_hq = "none" if rng.random() < 0.03 else f"{self.city[0]}, {self.city[2]}"
        founded = rng.randint(1820, 2012)
        self.founded = f"{founded} ({founded - rng.randint(5, 60)})" if rng.random() < 0.15 else str(founded)
        self.date_added = f"{rng.randint(1957, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        self.drop_date = rng.random() < 0.05     # "Date added": "" (NULL date)
        self.drop_founded = rng.random() < 0.03  # key missing entirely
        self.revenue = rng.lognormvariate(9.5, 1.0)
        self.margin = rng.uniform(-0.15, 0.25)
        self.assets = self.revenue * rng.uniform(0.5, 3.0)
        self.mcap = None if rng.random() < 0.05 else self.revenue * rng.uniform(0.3, 6.0)
        self.employees = None if rng.random() < 0.04 else rng.randint(500, 2_000_000)
        self.flags = {f: rng.choice(["yes", "no", None]) for f in FLAGS}
        self.prev_rank = None


def _universe(rng):
    names = set()
    while len(names) < N_BOTH + N_SP_ONLY + SP_RESERVE + N_F_ONLY + F_RESERVE:
        parts = [rng.choice(STEMS)]
        if rng.random() < 0.5:
            parts.append(rng.choice(STEMS))
        parts.append(rng.choice(TAILS))
        names.add(" ".join(parts))
    names = sorted(names)
    rng.shuffle(names)
    ciks = rng.sample(range(1000, 2_000_000), len(names))
    symbols = set()
    while len(symbols) < len(names) + DUP_CIKS:
        symbols.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                            for _ in range(rng.randint(2, 5))))
    symbols = sorted(symbols)
    rng.shuffle(symbols)
    return [Company(rng, n, c, s) for n, c, s in zip(names, ciks, symbols)], symbols[len(names):]


class Landing:
    """The seeded company universe and its day-by-day drift."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        cos, spare_symbols = _universe(self.rng)
        i = 0
        def take(n):
            nonlocal i
            i += n
            return cos[i - n:i]
        self.both = take(N_BOTH)
        sp_only = take(N_SP_ONLY + SP_RESERVE)
        f_only = take(N_F_ONLY + F_RESERVE)
        self.sp_members = set(c.name for c in self.both[BOTH_LATE:] +
                              sp_only[:N_SP_ONLY + BOTH_LATE])
        self.sp_pool = {c.name: c for c in self.both + sp_only}
        self.f_members = set(c.name for c in self.both + f_only[:N_F_ONLY])
        self.f_pool = {c.name: c for c in self.both + f_only}
        self.both_names = set(c.name for c in self.both)
        # duplicate-CIK rows: same CIK and name, second share class added
        # later or with an empty date, so the dedup keeps the first row
        self.dups = {c.name: (sym, self.rng.random() < 0.5)
                     for c, sym in zip(self.rng.sample(self.both, DUP_CIKS), spare_symbols)}
        for c in self.both:
            if c.name in self.dups:
                c.drop_date = False
        self.day = 0

    def advance(self):
        """Apply one day of seeded drift."""
        rng = self.rng
        self.day += 1
        for c in self.f_pool.values():
            c.revenue *= 1 + rng.gauss(0.0, 0.03)
            c.assets *= 1 + rng.gauss(0.0, 0.02)
        for c in rng.sample(sorted(self.f_members), HQ_MOVES):
            co = self.f_pool[c]
            co.city = rng.choice([x for x in CITIES if x != co.city])
        for c in rng.sample(sorted(self.f_members), FLAG_FLIPS):
            co = self.f_pool[c]
            f = rng.choice(FLAGS)
            co.flags[f] = "no" if co.flags[f] == "yes" else "yes"
        f_only_in = sorted(self.f_members - self.both_names)
        f_only_out = sorted(set(self.f_pool) - self.f_members)
        self.f_members -= set(rng.sample(f_only_in, F_CHURN))
        self.f_members |= set(rng.sample(f_only_out, F_CHURN))
        sp_in = sorted(self.sp_members)
        sp_out = sorted(set(self.sp_pool) - self.sp_members)
        self.sp_members -= set(rng.sample(sp_in, SP_CHURN))
        self.sp_members |= set(rng.sample(sp_out, SP_CHURN))

    def sp500_records(self):
        rows = []
        for name in sorted(self.sp_members):
            c = self.sp_pool[name]
            r = {"Symbol": c.symbol, "Security": c.security,
                 "GICS Sector": c.sector[0], "GICS Sub-Industry": c.sector[1],
                 "Headquarters Location": c.wiki_hq,
                 "Date added": "" if c.drop_date else c.date_added,
                 "CIK": c.cik, "Founded": c.founded}
            if c.drop_founded:
                del r["Founded"]
            rows.append(r)
            if name in self.dups:
                sym, empty_date = self.dups[name]
                d = dict(r, Symbol=sym)
                d["Date added"] = "" if empty_date else "2024-12-31"
                rows.append(d)
        self.rng.shuffle(rows)
        return rows

    def fortune_items(self):
        members = sorted(self.f_members, key=lambda n: -self.f_pool[n].revenue)
        items = []
        for rank, name in enumerate(members, start=1):
            c = self.f_pool[name]
            profit = c.revenue * c.margin
            prev = c.prev_rank
            c.prev_rank = rank
            change = "" if prev is None else str(max(-500, min(500, prev - rank)))
            data = {
                "Assets ($M)": money(c.assets), "Revenues ($M)": money(c.revenue),
                "Profits ($M)": money(profit),
                "Market Value ($M)": "" if c.mcap is None else money(c.mcap),
                "Employees": "" if c.employees is None else f"{c.employees:,}",
                "Revenue Percent Change": "" if self.rng.random() < 0.05
                else f"{self.rng.uniform(-20, 40):.1f}%",
                "Profits Percent Change": f"{self.rng.uniform(-50, 80):.1f}%",
                "Headquarters City": c.city[0], "State": c.city[1],
                "Industry": c.industry[0], "Sector": c.industry[1],
                "Change in Rank (500 only)": change if rank <= 500 else "",
                "Change in Rank (Full 1000)": change,
            }
            for f, v in c.flags.items():
                if v is not None:
                    data[f] = v
            items.append({"name": c.name, "order": rank, "rank": rank,
                          "slug": c.slug, "data": data})
        return items

    def write_day(self, out_dir):
        day_dir = os.path.join(out_dir, f"day_{self.day:03d}")
        os.makedirs(day_dir, exist_ok=True)
        sp = self.sp500_records()
        items = self.fortune_items()
        with open(os.path.join(day_dir, "sp500.json"), "w") as f:
            json.dump(sp, f)
        with open(os.path.join(day_dir, f"fortune500_{BASE_DAY.year}.json"), "w") as f:
            json.dump({"items": items}, f)
        return day_dir, sp, items


def day_ts(day):
    return (BASE_DAY + dt.timedelta(days=day)).strftime("%Y-%m-%d %H:%M:%S")


class Model:
    """Expected warehouse state, replaying the pipeline's semantics."""

    def __init__(self):
        self.stg_w = {}       # cik -> (name, symbol, ingested day)
        self.stg_f = {}       # name -> (city, state, slug, ingested day)
        self.core = {}        # cik -> (name, city, state, slug, last_updated day)
        self.loc, self.fm = [], []   # SCD2 versions: [key, updated, valid_to]
        self.days = 0

    @staticmethod
    def _dedup_wiki(sp):
        best = {}
        for r in sp:
            date = r.get("Date added") or None
            cur = best.get(r["CIK"])
            if cur is None or (date is not None and (cur[0] is None or date < cur[0])):
                best[r["CIK"]] = (date, r)
        return {cik: r for cik, (_, r) in best.items()}

    @staticmethod
    def _scd2(history, batch, day, first):
        if first:
            history.extend([k, u, None] for k, u in batch.items())
            return
        current = {v[0]: v for v in history if v[2] is None}
        for k, v in current.items():
            if k not in batch:
                v[2] = day
            elif batch[k] > v[1]:
                v[2] = batch[k]
                history.append([k, batch[k], None])
        history.extend([k, u, None] for k, u in batch.items() if k not in current)

    def apply(self, day, sp, items):
        first = self.days == 0
        self.days += 1
        for cik, r in self._dedup_wiki(sp).items():
            self.stg_w[cik] = (r["Security"].split(" (")[0], r["Symbol"], day)
        for it in items:
            d = it["data"]
            self.stg_f[it["name"]] = (d["Headquarters City"], d["State"], it["slug"], day)
        hwm = None if first else max(r[4] for r in self.core.values())
        for cik, (name, symbol, ing) in self.stg_w.items():
            if name in self.stg_f and (hwm is None or ing > hwm):
                city, state, slug, fday = self.stg_f[name]
                self.core[cik] = (name, city, state, slug, fday)
        self._scd2(self.loc, {surrogate_key(n, c, s): u
                              for n, c, s, _, u in self.core.values()}, day, first)
        self._scd2(self.fm, {surrogate_key(n, sl): u
                             for n, _, _, sl, u in self.core.values()}, day, first)

    def counts(self):
        n = len(self.core)
        return {
            "raw.wiki_sp500": self.days, "raw.fortune_500": self.days,
            "staging.stg_wiki_sp500": len(self.stg_w),
            "staging.stg_fortune500": len(self.stg_f),
            "core.cr_company_complete": n,
            "snapshots.company_location_snapshot": len(self.loc),
            "snapshots.fortune_metrics_snapshot": len(self.fm),
            "analytics.dim_company": n,
            "analytics.dim_location": sum(v[2] is None for v in self.loc),
            "analytics.dim_fortune_metrics": sum(v[2] is None for v in self.fm),
            "analytics.fact_company_performance": n,
        }

    def versions(self, history):
        out = {}
        for k, _, _ in history:
            out[k] = out.get(k, 0) + 1
        return out


def generate(seed, out_dir, days):
    """Write ``days`` landing directories under ``out_dir``.

    Returns one record per day: its directory, its landing bytes, and the
    expected state after that day's DAG run (row counts of all eleven
    tables and SCD2 versions per key of both snapshots).
    """
    land = Landing(seed)
    model = Model()
    out = []
    for d in range(days):
        if d:
            land.advance()
        day_dir, sp, items = land.write_day(out_dir)
        model.apply(d, sp, items)
        out.append({
            "dir": day_dir, "at": day_ts(d),
            "bytes": sum(os.path.getsize(os.path.join(day_dir, f)) for f in os.listdir(day_dir)),
            "counts": model.counts(),
            "company_location_snapshot": model.versions(model.loc),
            "fortune_metrics_snapshot": model.versions(model.fm)})
    return out
