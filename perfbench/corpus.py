"""Seeded fraud-day corpus for the daily-batch benchmark.

Writes, for D consecutive days, the file triplet the pipeline consumes
(FIXTURES.md §A1-§A3) plus a seed dump in the ``ddl_dml.sql`` shape
(§A4-§A6), and plants the §A7 positives and counterexamples so the
expected ``REP_FRAUD`` rows per day and event type are known by
construction (reference-compat rule modes):

- background traffic never fires a rule: each card transacts only at
  terminals of its home city, terminal churn changes addresses (never
  cities), no card has two REJECTs in a row among its PAYMENT/WITHDRAW
  operations, and background passports and accounts are valid;
- passport_fraud: clients whose passport expired before day 1, clients
  whose passport expires ON a corpus day (a counterexample on that day,
  a positive afterwards) and clients blacklisted from some day on;
- account_fraud: accounts expired before day 1 and accounts expiring ON
  a corpus day;
- city_fraud: per day a few cards make one trip to another city, 30 min
  after a home transaction (one row per card);
- guessing_amount_fraud: per day a few dedicated cards carry exactly the
  chain REJECT 5000 -> 4000 -> 3000 -> SUCCESS 2000 within 12 min, and
  others carry the §A7 counterexample chains (equal amounts, 22-min
  chain, a DEPOSIT inside, a fourth REJECT) which must not fire;
- a few ragged CSV rows per day, which the reader quarantines.

Usage: python3 perfbench/corpus.py OUT_DIR --seed N --size {tiny,backfill,bulk}
Output is cached by (seed, size): a directory holding ``manifest.json`` is
reused as-is.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import zipfile
from dataclasses import asdict, dataclass
from xml.sax.saxutils import escape

import numpy as np

EVENT_TYPES = ("passport_fraud", "account_fraud", "city_fraud", "guessing_amount_fraud")
FIRST_DAY = dt.date(2021, 3, 1)  # days stay in one month: file names sort by date
_EPOCH_1900 = dt.date(1899, 12, 30)


@dataclass(frozen=True)
class Shape:
    days: int
    cards: int
    terminals: int
    cities: int
    tx_per_day: int
    churn: int  # terminals added, re-addressed and deleted per day
    city_cards: int  # city_fraud positives per day
    guess_cards: int  # guessing_amount_fraud positives per day
    corrupt_rows: int  # ragged CSV rows per day


SHAPES = {
    "tiny": Shape(days=3, cards=40, terminals=24, cities=6, tx_per_day=600,
                  churn=1, city_cards=1, guess_cards=1, corrupt_rows=2),
    # reference scale (FIXTURES.md §A1: ~15.7k tx/day, 195 cards, 150 terminals)
    "backfill": Shape(days=3, cards=195, terminals=150, cities=42, tx_per_day=16000,
                      churn=2, city_cards=1, guess_cards=1, corrupt_rows=3),
    # fact-heavy: the CSV scan and the per-card windows dominate
    "bulk": Shape(days=3, cards=20000, terminals=2000, cities=42, tx_per_day=300000,
                  churn=4, city_cards=20, guess_cards=20, corrupt_rows=10),
}

_CITY_STEMS = ("Nor", "Vel", "Kar", "Sam", "Tul", "Orl", "Kaz", "Per", "Ufa",
               "Tom", "Ryaz", "Kur", "Bel", "Pen")
_CITY_ENDS = ("sk", "grad", "ovo")
_LAST = ("Ivanov", "Petrov", "Sidorov", "Smirnov", "Kuznetsov", "Popov",
         "Vasiliev", "Sokolov", "Mikhailov", "Novikov")
_FIRST = ("Ivan", "Petr", "Anna", "Olga", "Sergey", "Elena", "Pavel", "Irina")
_PATR = ("Ivanovich", "Petrovich", "Sergeevna", "Pavlovna", "Olegovich")


def day_token(day: dt.date) -> str:
    return day.strftime("%d%m%Y")


def _fmt_amount(cents: np.ndarray) -> list[str]:
    return [f"{c // 100},{c % 100:02d}" for c in cents.tolist()]


# --------------------------------------------------------------------- xlsx


def write_xlsx(path: str, rows: list[list[object]], blank_rows: int = 0) -> None:
    """Write a one-sheet workbook: str cells via sharedStrings, date cells as
    serial numbers styled with builtin numFmt 14, ``blank_rows`` trailing
    styled-but-empty rows (the reference blacklist shape). Byte-stable:
    fixed zip timestamps and member order."""
    shared: dict[str, int] = {}
    out_rows = []
    for r, row in enumerate(rows, start=1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{chr(65 + c)}{r}"
            if isinstance(v, dt.date):
                serial = (v - _EPOCH_1900).days
                cells.append(f'<c r="{ref}" s="1"><v>{serial}</v></c>')
            else:
                idx = shared.setdefault(str(v), len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        out_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    width = max((len(r) for r in rows), default=1)
    for r in range(len(rows) + 1, len(rows) + 1 + blank_rows):
        cells = "".join(f'<c r="{chr(65 + c)}{r}" s="0"/>' for c in range(width))
        out_rows.append(f'<row r="{r}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    members = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook {ns} '
            f'xmlns:r="{rel_ns}"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/>'
            "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel_ns}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel_ns}/styles" Target="styles.xml"/>'
            f'<Relationship Id="rId3" Type="{rel_ns}/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>"
        ),
        "xl/styles.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><styleSheet {ns}>'
            '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>'
            "</cellXfs></styleSheet>"
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst {ns} '
            f'count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet {ns}>'
            f'<sheetData>{"".join(out_rows)}</sheetData></worksheet>'
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in members.items():
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))


# --------------------------------------------------------------- generator


def _sql(v: object) -> str:
    if v is None:
        return "null"
    return "'" + str(v).replace("'", "''") + "'"


class _Corpus:
    """One corpus build. Holds the dims and the planted roles, then emits one
    day at a time."""

    def __init__(self, shape: Shape, seed: int):
        self.s = shape
        self.rng = np.random.default_rng([seed, shape.cards, shape.tx_per_day])
        self.days = [FIRST_DAY + dt.timedelta(days=i) for i in range(shape.days)]
        self._dims()
        self._terminals()
        self._roles()

    # -- dims ---------------------------------------------------------------

    def _dims(self) -> None:
        s, rng = self.s, self.rng
        n_acc = max(4, s.cards * 2 // 5)
        n_cli = max(4, n_acc * 2 // 3)
        self.card_num = [
            " ".join(f"{x:04d}" for x in (4000 + i // 10000, (i * 7919) % 10000,
                                          rng.integers(10000), i % 10000))
            for i in range(s.cards)
        ]
        self.card_acc = np.arange(s.cards) % n_acc
        self.acc_num = [f"40817810{i:012d}" for i in range(n_acc)]
        self.acc_cli = np.arange(n_acc) % n_cli
        self.cli_id = [str(i + 1) for i in range(n_cli)]
        self.passport = [f"{1000 + i // 1000000:04d} {i % 1000000:06d}"
                         for i in rng.choice(8_000_000, n_cli, replace=False).tolist()]
        self.n_acc, self.n_cli = n_acc, n_cli
        # background: passports valid (NULL or far future), accounts valid
        self.pass_valid_to: list[dt.date | None] = [
            None if rng.random() < 0.4 else dt.date(2030 + int(rng.integers(10)), 1, 1)
            for _ in range(n_cli)
        ]
        self.acc_valid_to = [dt.date(2030 + int(rng.integers(10)), 6, 1) for _ in range(n_acc)]

    def _terminals(self) -> None:
        s, rng = self.s, self.rng
        self.cities = [f"{_CITY_STEMS[i % len(_CITY_STEMS)]}{_CITY_ENDS[i // len(_CITY_STEMS) % 3]}"
                       + ("" if i < 42 else str(i)) for i in range(s.cities)]
        n_total = s.terminals + s.churn * s.days
        ids = rng.choice(10000, n_total, replace=False)
        kinds = rng.random(n_total) < 0.5
        self.term_id = [("A" if k else "P") + f"{i:04d}" for i, k in zip(ids.tolist(), kinds.tolist())]
        self.term_type = ["ATM" if k else "POS" for k in kinds.tolist()]
        self.term_city = [i % s.cities for i in range(n_total)]
        self.term_addr = [f"street {rng.integers(1, 200)}, {rng.integers(1, 99)}" for _ in range(n_total)]
        # the first nine tenths of the initial terminals carry traffic; the
        # rest, and every terminal added later, stay idle and feed the deletes
        self.n_busy = max(s.cities, s.terminals * 9 // 10)
        busy = np.arange(self.n_busy)
        self.busy_by_city = [busy[busy % s.cities == c] for c in range(s.cities)]
        self.live = list(range(s.terminals))
        self.next_new = s.terminals

    # -- planted roles ------------------------------------------------------

    def _roles(self) -> None:
        s, rng = self.s, self.rng
        D = s.days
        clients = rng.permutation(self.n_cli)
        k = max(1, self.n_cli * 25 // 1000)  # ~2.5 % of clients: expired passport
        kb = max(1, self.n_cli * 8 // 1000)  # ~0.8 %: blacklisted from some day
        expired, edge_p, black = clients[:k], clients[k:k + 1], clients[k + 1:k + 1 + kb]
        for c in expired.tolist():
            self.pass_valid_to[c] = FIRST_DAY - dt.timedelta(days=30 + int(rng.integers(300)))
        edge_day = self.days[min(1, D - 1)]
        self.pass_valid_to[int(edge_p[0])] = edge_day  # strict '>': fires only after
        self.black_from = {c: int(rng.integers(D)) for c in black.tolist()}
        bad_clients = set(clients[:k + 1 + kb].tolist())

        clean_acc = [a for a in range(self.n_acc) if int(self.acc_cli[a]) not in bad_clients]
        accs = rng.permutation(clean_acc)
        ka = max(1, self.n_acc * 8 // 1000)
        for a in accs[:ka].tolist():
            self.acc_valid_to[a] = FIRST_DAY - dt.timedelta(days=10 + int(rng.integers(100)))
        self.acc_valid_to[int(accs[ka])] = self.days[0]  # fires from day 2 on
        bad_acc = set(accs[:ka + 1].tolist())

        # cards of fully clean client+account: eligible for the per-day plants
        clean_cards = [c for c in range(s.cards)
                       if int(self.card_acc[c]) not in bad_acc
                       and int(self.acc_cli[self.card_acc[c]]) not in bad_clients]
        self.clean_cards = np.array(clean_cards)

    def _passport_bad(self, cli: int, day_i: int) -> bool:
        v = self.pass_valid_to[cli]
        if v is not None and self.days[day_i] > v:
            return True
        start = self.black_from.get(cli)
        return start is not None and start <= day_i

    def _account_bad(self, acc: int, day_i: int) -> bool:
        return self.days[day_i] > self.acc_valid_to[acc]

    # -- per-day emission ---------------------------------------------------

    def _churn(self, day_i: int) -> list[int]:
        """Snapshot (terminal indexes) for day ``day_i``; mutates addresses."""
        if day_i == 0:
            return list(self.live)
        s, rng = self.s, self.rng
        idle = [t for t in self.live if t >= self.n_busy]
        gone = set(rng.choice(idle, min(s.churn, len(idle)), replace=False).tolist()) if idle else set()
        changed = rng.choice([t for t in self.live if t not in gone], s.churn, replace=False)
        for t in changed.tolist():
            self.term_addr[t] = f"street {rng.integers(1, 200)}, block {day_i}"
        added = list(range(self.next_new, self.next_new + s.churn))
        self.next_new += s.churn
        self.live = [t for t in self.live if t not in gone] + added
        return list(self.live)

    def emit_day(self, day_i: int, out: str) -> dict:
        s, rng = self.s, self.rng
        day = self.days[day_i]
        tok = day_token(day)
        snapshot = self._churn(day_i)

        pick = rng.permutation(self.clean_cards)
        city_cards = pick[:s.city_cards]
        guess_cards = pick[s.city_cards:s.city_cards + s.guess_cards]
        counter_cards = pick[s.city_cards + s.guess_cards:s.city_cards + s.guess_cards + 4]
        dedicated = set(guess_cards.tolist()) | set(counter_cards.tolist())
        busy_cards = np.array([c for c in range(s.cards) if c not in dedicated])

        # background: uniform card choice, strictly increasing seconds per card
        n_bg = s.tx_per_day - s.city_cards - 16
        card = np.sort(rng.choice(busy_cards, n_bg))
        starts = np.flatnonzero(np.r_[True, card[1:] != card[:-1]])
        rank = np.arange(n_bg) - np.repeat(starts, np.diff(np.r_[starts, n_bg]))
        counts = np.bincount(card, minlength=s.cards)
        span = 86400 - counts[card]
        sec = (rng.random(n_bg) * span).astype(np.int64)
        order = np.lexsort((sec, card))
        sec = sec[order] + rank  # sorted within card, then +rank: strictly increasing
        home = np.arange(s.cards) % s.cities
        term = np.empty(n_bg, dtype=np.int64)
        u = rng.random(n_bg)
        for c in range(s.cities):
            m = home[card] == c
            pool = self.busy_by_city[c]
            term[m] = pool[(u[m] * len(pool)).astype(np.int64)]
        op = rng.choice(3, n_bg, p=[0.5, 0.35, 0.15])  # PAYMENT, WITHDRAW, DEPOSIT
        # REJECT only at even positions of a card's PAYMENT/WITHDRAW sequence:
        # never two REJECTs in a row, so no guessing chain in the background
        pw = op < 2
        pw_idx = np.cumsum(pw) - 1
        pw_rank = pw_idx - np.repeat(pw_idx[starts] + (~pw[starts]),
                                     np.diff(np.r_[starts, n_bg]))
        reject = (rng.random(n_bg) < 0.2) & ((~pw) | (pw_rank % 2 == 0))
        cents = rng.integers(1000, 10_000_000, n_bg)

        rows = [card.tolist(), sec.tolist(), cents.tolist(), op.tolist(),
                reject.tolist(), term.tolist()]
        tx = list(zip(*rows))

        # city_fraud: one away trip 30 min after a home transaction
        for c in city_cards.tolist():
            mine = np.flatnonzero(card == c)
            if not len(mine):  # the trip needs a home transaction to leave from
                tx.append((c, 3600, 100000, 0, False, int(self.busy_by_city[home[c]][0])))
            base = int(sec[mine[0]]) if len(mine) else 3600
            taken = set(sec[mine].tolist())
            t = base + 1800
            while t in taken:
                t += 1
            away = (home[c] + 1 + int(rng.integers(s.cities - 1))) % s.cities
            pool = self.busy_by_city[away]
            tx.append((c, min(t, 86399), int(rng.integers(1000, 100000)), 0, False,
                       int(pool[int(rng.integers(len(pool)))])))
        # guessing positives and §A7 counterexample chains on dedicated cards
        chains = [
            ([5000, 4000, 3000, 2000], [0, 240, 480, 720], [0, 1, 0, 1], [1, 1, 1, 0]),
        ]
        counters = [
            ([5000, 4000, 4000, 2000], [0, 240, 480, 720], [0, 0, 1, 0], [1, 1, 1, 0]),
            ([5000, 4000, 3000, 2000], [0, 300, 600, 1320], [1, 0, 0, 0], [1, 1, 1, 0]),
            ([5000, 4000, 3000, 2000], [0, 240, 480, 720], [0, 2, 0, 1], [1, 1, 1, 0]),
            ([5000, 4000, 3000, 2000], [0, 240, 480, 720], [1, 0, 1, 0], [1, 1, 1, 1]),
        ]
        planted = [(c, chains[0]) for c in guess_cards.tolist()]
        planted += list(zip(counter_cards.tolist(), counters))
        for c, (amts, offs, ops, rej) in planted:
            t0 = int(rng.integers(3600, 80000))
            pool = self.busy_by_city[home[c]]
            for a, o, p, r in zip(amts, offs, ops, rej):
                tx.append((c, t0 + o, a * 100 + int(rng.integers(100)), p, bool(r),
                           int(pool[int(rng.integers(len(pool)))])))

        # expected REP_FRAUD rows by construction (compat rule modes)
        exp = dict.fromkeys(EVENT_TYPES, 0)
        for c, *_ in tx:
            acc = int(self.card_acc[c])
            if self._passport_bad(int(self.acc_cli[acc]), day_i):
                exp["passport_fraud"] += 1
            if self._account_bad(acc, day_i):
                exp["account_fraud"] += 1
        exp["city_fraud"] = len(city_cards)
        exp["guessing_amount_fraud"] = len(guess_cards)

        # CSV: shuffled row order, ids unique, a few ragged rows
        perm = rng.permutation(len(tx))
        base_id = 1_000_000 * (day_i + 1)
        kinds = ("PAYMENT", "WITHDRAW", "DEPOSIT")
        amt = _fmt_amount(np.array([t[2] for t in tx]))
        stamp0 = dt.datetime.combine(day, dt.time())
        lines = ["transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"]
        for j, i in enumerate(perm.tolist()):
            c, t, _, p, r, term_i = tx[i]
            ts = (stamp0 + dt.timedelta(seconds=t)).strftime("%Y-%m-%d %H:%M:%S")
            lines.append(f"{base_id + j};{ts};{amt[i]};{self.card_num[c]};{kinds[p]};"
                         f"{'REJECT' if r else 'SUCCESS'};{self.term_id[term_i]}")
        for j in range(s.corrupt_rows):
            at = int(rng.integers(1, len(lines)))
            bad = f"{base_id + 900_000 + j};{stamp0:%Y-%m-%d} 00:00:00;1,00"
            lines.insert(at, bad + (";x;y;z;w;v" if j % 2 else ""))
        with open(os.path.join(out, f"transactions_{tok}.txt"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

        write_xlsx(
            os.path.join(out, f"terminals_{tok}.xlsx"),
            [["terminal_id", "terminal_type", "terminal_city", "terminal_address"]]
            + [[self.term_id[t], self.term_type[t], self.cities[self.term_city[t]],
                self.term_addr[t]] for t in snapshot],
        )
        black = [c for c, start in sorted(self.black_from.items()) if start <= day_i]
        noise = [f"{9000 + i:04d} {i * 7:06d}" for i in range(day_i + 2)]  # no client
        bl_rows = [["date", "passport"]]
        bl_rows += [[FIRST_DAY + dt.timedelta(days=int(self.black_from[c]) + 3), self.passport[c]]
                    for c in black]
        bl_rows += [[day, p] for p in noise]
        write_xlsx(os.path.join(out, f"passport_blacklist_{tok}.xlsx"), bl_rows,
                   blank_rows=5 if day_i % 2 == 0 else 0)
        return {
            "date": tok,
            "iso": day.isoformat(),
            "tx_rows": len(tx),
            "corrupt_rows": s.corrupt_rows,
            "expected": exp,
        }

    def write_seed_dump(self, path: str) -> None:
        rng = self.rng
        out = ["-- seed dims in the ddl_dml.sql shape (cards, accounts, clients)"]

        def created() -> str:
            return (dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(1800)))).isoformat()

        for i, num in enumerate(self.card_num):
            out.append("INSERT INTO cards(card_num, account, create_dt, update_dt) VALUES("
                       f"{_sql(num)}, {_sql(self.acc_num[self.card_acc[i]])}, {_sql(created())}, null);")
        for i, num in enumerate(self.acc_num):
            out.append("INSERT INTO accounts(account, valid_to, client, create_dt, update_dt) VALUES("
                       f"{_sql(num)}, {_sql(self.acc_valid_to[i].isoformat())}, "
                       f"{_sql(self.cli_id[self.acc_cli[i]])}, {_sql(created())}, null);")
        for i, cid in enumerate(self.cli_id):
            vt = self.pass_valid_to[i]
            out.append(
                "INSERT INTO clients(client_id, last_name, first_name, patronymic, date_of_birth, "
                "passport_num, passport_valid_to, phone, create_dt, update_dt) VALUES("
                f"{_sql(cid)}, {_sql(_LAST[i % len(_LAST)])}, {_sql(_FIRST[i % len(_FIRST)])}, "
                f"{_sql(_PATR[i % len(_PATR)])}, '1980-01-{1 + i % 28:02d}', {_sql(self.passport[i])}, "
                f"{_sql(vt.isoformat() if vt else None)}, "
                f"'+7 9{i % 100:02d} {i % 1000:03d}-{i % 100:02d}-{(i * 7) % 100:02d}', "
                f"{_sql(created())}, null);"
            )
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(out) + "\n")


def build(out_dir: str, seed: int, size: str) -> dict:
    """Generate (or reuse) the corpus for (seed, size) under ``out_dir``.

    Layout: ``out_dir/landing/`` holds every day's triplet,
    ``out_dir/ddl_dml.sql`` the seed dump, ``out_dir/manifest.json`` the
    per-day expectations. Returns the manifest."""
    man_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path, encoding="utf-8") as f:
            return json.load(f)
    shape = SHAPES[size]
    tmp = out_dir.rstrip("/") + ".__tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    landing = os.path.join(tmp, "landing")
    os.makedirs(landing)
    corpus = _Corpus(shape, seed)
    days = [corpus.emit_day(i, landing) for i in range(shape.days)]
    corpus.write_seed_dump(os.path.join(tmp, "ddl_dml.sql"))
    manifest = {"seed": seed, "size": size, "shape": asdict(shape), "days": days}
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return manifest


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", choices=sorted(SHAPES), default="tiny")
    args = p.parse_args()
    man = build(args.out_dir, args.seed, args.size)
    print(json.dumps([d["expected"] for d in man["days"]]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
