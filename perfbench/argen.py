"""Seeded generator for the accounts-receivable CSV and its expected answers.

The CSV follows the 13-column contract of FIXTURES.md section 1, with the
quirks the reference ingest rules cover: whitespace padding, empty money
(-> 0.00), `N/A` money (quarantined; the row still loads with a NULL
bill_total), empty DueDate (derived as invoice date + terms days),
`Due on receipt` terms (no digits -> NULL terms_days), empty contact
fields (backfilled from the customer's first non-empty value) and names
with spaces, `&` and mixed case.

Every expected answer (ingest stats, the loaded fact's fingerprint, the
endpoint responses) is computed here from those rules, never by running
the program under test.
"""
import csv
import datetime as dt
import random
import urllib.parse
import zlib
from collections import defaultdict
from decimal import Decimal

HEADER = ["CustomerName", "InvoiceNumber", "InvoiceDate", "CustomerPoNumber",
          "BillTotal", "Applied", "Status", "Currency", "ContactName",
          "ContactPhone", "ContactEmail", "CustomerTerms", "DueDate"]

FIRST_DAY = dt.date(2024, 1, 4)
LAST_DAY = dt.date(2025, 9, 22)
AS_OF = "2025-03-01"      # fixed past-due as-of date inside the span
ROWS_PER_CUSTOMER = 23    # the reference's 3,107 rows / 135 customers
ZERO = Decimal("0.00")

_A = ["Lens", "Logic", "Blue", "Harbor", "Summit", "Cedar", "Nova", "Pixel",
      "Granite", "Silver", "Maple", "Orbit", "Atlas", "Beacon", "Crimson",
      "Delta", "Echo", "Falcon", "Golden", "Iron", "Jade", "Kite", "Lunar",
      "Metro", "North", "Oak", "Prime", "Quartz", "River", "Stone", "Tidal",
      "Union", "Vertex", "West", "Zen", "Amber", "Birch", "Copper", "Dune",
      "Ember", "Fable", "Grove", "Haven", "Ivory", "Juniper", "Keystone",
      "Lotus", "Mesa", "Nimbus", "Opal"]
_B = ["Light", "Nest", "Works", "Labs", "Foods", "Freight", "Systems",
      "Studio", "Supply", "Partners", "Health", "Media", "Motors", "Textiles",
      "Bakery", "Capital", "Dental", "Energy", "Farms", "Garden", "Hardware",
      "Imaging", "Joinery", "Kitchens", "Logistics", "Metals", "Networks",
      "Optics", "Print", "Robotics", "Solar", "Tools", "Ventures", "Wireless",
      "Yards", "Audio", "Brewing", "Coffee", "Design", "Events"]
_SUFFIX = ["Inc", "LLC", "Co", "Group", "Ltd"]
_FIRST = ["Angela", "Marcus", "Priya", "Tom", "Lena", "Omar", "Sofia", "Ken",
          "Ruth", "Diego", "Mei", "Ivan", "Nora", "Sam", "Ada", "Luis"]
_LAST = ["Scott", "Reyes", "Patel", "Nguyen", "Berg", "Haddad", "Rossi",
         "Tanaka", "Okafor", "Silva", "Chen", "Novak", "Walsh", "Khan"]
_TERMS = [("Net 30", 62.0), ("Net 7", 22.6), ("Net 15", 10.5), ("Net 45", 4.9)]


def _name(rng):
    """One customer name: camel-case, `&`-joined or spaced, some odd case."""
    a, b = rng.choice(_A), rng.choice(_B)
    shape = rng.random()
    if shape < 0.3:
        name = a + b
    elif shape < 0.55:
        name = f"{a} & {rng.choice(_A if rng.random() < 0.5 else _B)}"
    else:
        name = f"{a} {b} {rng.choice(_SUFFIX)}"
    if rng.random() < 0.08:
        name = name.lower()
    elif rng.random() < 0.05:
        name = name.upper()
    return name


def _customers(rng, n, taken):
    out = []
    while len(out) < n:
        name = _name(rng)
        key = name.lower()
        if key in taken:
            name = f"{name} {len(taken)}"
            key = name.lower()
        taken.add(key)
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        domain = "".join(ch for ch in key if ch.isalnum()) + ".com"
        out.append({
            "name": name,
            "contact": (f"{first} {last}",
                        f"555-{rng.randrange(100, 1000)}-{rng.randrange(1000, 10000)}",
                        f"{first.lower()}@{domain}"),
            "terms": rng.choices([t for t, _ in _TERMS],
                                 [w for _, w in _TERMS])[0]
            if rng.random() > 0.01 else "Due on receipt",
        })
    return out


def _fmt_date(d, rng, with_time=False):
    if rng.random() < 0.15:
        s = f"{d.month:02d}/{d.day:02d}/{d.year % 100:02d}"
    else:
        s = f"{d.month}/{d.day}/{d.year % 100:02d}"
    return s + " 00:00" if with_time else s


def _fmt_money(cents, rng):
    s = f"{cents // 100}" if cents % 100 == 0 else f"{cents // 100}.{cents % 100:02d}"
    return f" {s} " if rng.random() < 0.03 else s


def _pad(s, rng):
    return f"  {s} " if rng.random() < 0.04 else s


class Invoice:
    """One CSV row's meaning plus the raw fields that encode it."""
    __slots__ = ("number", "cust", "inv_date", "po", "bill", "bill_raw",
                 "applied", "status", "currency", "contact", "due_raw")

    def raw(self, rng):
        c = self.cust
        contact = ["", "", ""] if self.contact is None else list(self.contact)
        due = "" if self.due_raw is None else _fmt_date(self.due_raw, rng, True)
        return [_pad(c["name"], rng), self.number, _fmt_date(self.inv_date, rng),
                self.po, self.bill_raw,
                "" if self.applied == ZERO and rng.random() < 0.5
                else _fmt_money(int(self.applied * 100), rng),
                self.status, _pad(self.currency, rng), *contact,
                c["terms"], due]


def _terms_days(terms):
    digits = "".join(ch if ch.isdigit() else " " for ch in terms).split()
    return int(digits[0]) if digits else None


def _new_invoice(rng, number, cust):
    inv = Invoice()
    inv.number = number
    inv.cust = cust
    inv.inv_date = FIRST_DAY + dt.timedelta(
        days=rng.randrange((LAST_DAY - FIRST_DAY).days + 1))
    inv.po = f"PO-{rng.randrange(10 ** 6):06d}" if rng.random() < 0.9 else ""
    u = rng.random()
    cents = rng.randrange(50_00, 10_000_00)
    if rng.random() < 0.4:
        cents -= cents % 100
    if u < 0.002:
        inv.bill, inv.bill_raw = None, "N/A"
    elif u < 0.005:
        inv.bill, inv.bill_raw = ZERO, ""
    else:
        inv.bill, inv.bill_raw = Decimal(cents) / 100, _fmt_money(cents, rng)
    inv.status = "Closed" if rng.random() < 0.77 else "Pending"
    bill_cents = 0 if inv.bill is None else int(inv.bill * 100)
    if inv.status == "Closed":
        inv.applied = Decimal(bill_cents) / 100
    else:
        inv.applied = (Decimal(rng.randrange(bill_cents)) / 100
                       if bill_cents and rng.random() < 0.7 else ZERO)
    inv.applied = inv.applied.quantize(ZERO)
    inv.currency = "CAD" if rng.random() < 0.008 else "USD"
    r = rng.random()
    if r < 0.005:
        inv.contact = None                      # empty, backfilled
    elif r < 0.015:                             # conflicting later contact
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        inv.contact = (f"{first} {last}", "555-000-0000", f"{first.lower()}@alt.example")
    else:
        inv.contact = cust["contact"]
    days = _terms_days(cust["terms"])
    if days is not None and rng.random() < 0.048:
        inv.due_raw = None                      # derived from terms
    else:
        inv.due_raw = inv.inv_date + dt.timedelta(days=days or 0)
    return inv


def _due(inv):
    if inv.due_raw is not None:
        return inv.due_raw
    days = _terms_days(inv.cust["terms"])
    return None if days is None else inv.inv_date + dt.timedelta(days=days)


def generate(seed, rows):
    """Both snapshots: `rows` invoices, then a re-ingest of all of them with
    5% changed Applied/Status plus 5% new invoices (some for new customers)."""
    rng = random.Random(seed)
    taken = set()
    n_cust = max(2, rows // ROWS_PER_CUSTOMER)
    custs = _customers(rng, n_cust, taken)
    numbers = rng.sample(range(1_000_000, 10_000_000), rows + rows // 20)
    first = []
    for i in range(rows):
        # the first n_cust rows introduce every customer once, in order
        cust = custs[i] if i < n_cust else rng.choice(custs)
        first.append(_new_invoice(rng, f"DF{numbers[i]}", cust))

    second = []
    changed = set(rng.sample(range(rows), rows // 20))
    for i, old in enumerate(first):
        inv = old
        if i in changed:
            inv = Invoice()
            for s in Invoice.__slots__:
                setattr(inv, s, getattr(old, s))
            bill = old.bill or ZERO
            if rng.random() < 0.6:
                inv.applied, inv.status = bill, "Closed"
            else:
                inv.applied = (bill * Decimal(rng.randrange(0, 100)) / 100).quantize(ZERO)
                inv.status = "Pending"
        second.append(inv)
    new_custs = _customers(rng, max(1, n_cust // 50), taken)
    for j in range(rows // 20):
        cust = rng.choice(new_custs) if rng.random() < 0.05 else rng.choice(custs)
        second.append(_new_invoice(rng, f"DF{numbers[rows + j]}", cust))
    return first, second, sorted(changed)


def write_csv(path, invoices, seed):
    rng = random.Random(seed)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(HEADER)
        for inv in invoices:
            w.writerow(inv.raw(rng))


# ----------------------------------------------------------- expectations

def load_state(invoices):
    """The normalized tables one IngestJob.run over `invoices` writes."""
    ids, contacts = {}, {}
    for inv in invoices:
        name = inv.cust["name"]
        if name not in ids:
            ids[name] = len(ids) + 1
            contacts[name] = [None, None, None]
        if inv.contact is not None:
            cur = contacts[name]
            for k in range(3):
                if cur[k] is None:
                    cur[k] = inv.contact[k]
    return ids, contacts


def _s(v):
    return "" if v is None else (f"{v:.2f}" if isinstance(v, Decimal) else str(v))


def fact_fingerprint(invoices, ids):
    """Order-independent: sum of CRC32 over every loaded fact row."""
    total = 0
    for inv in invoices:
        key = "|".join([inv.number, str(ids[inv.cust["name"]]), _s(inv.bill),
                        _s(inv.applied), inv.status, _s(_due(inv))])
        total += zlib.crc32(key.encode())
    return total


def ingest_expectations(invoices):
    ids, _ = load_state(invoices)
    return {
        "rows": len(invoices), "customers": len(ids), "invoices": len(invoices),
        "errors": sum(1 for i in invoices if i.bill is None), "duplicates": 0,
        "fact_rows": len(invoices),
        "fact_crc": fact_fingerprint(invoices, ids),
        "fact_applied": _s(sum((i.applied for i in invoices), ZERO)),
    }


def _jstr(s):
    return "null" if s is None else '"' + s + '"'


def _q(s):
    return urllib.parse.quote(s, safe="")


def _random_case(rng, s):
    return "".join(ch.upper() if rng.random() < 0.5 else ch.lower() for ch in s)


# request mix: (kind, share in percent)
MIX = [("past_due", 20), ("month", 20), ("contact", 15), ("invoice", 25),
       ("customer", 12), ("customer_list", 1), ("health", 3),
       ("bad_invoice", 1), ("bad_name", 1), ("bad_month", 1), ("bad_limit", 1)]


class ServeModel:
    """Expected endpoint answers over the tables one ingest of `invoices` writes."""

    def __init__(self, invoices):
        self.invoices = invoices
        self.ids, self.contacts = load_state(invoices)
        self.by_id = {i: n for n, i in self.ids.items()}
        as_of = dt.date.fromisoformat(AS_OF)
        self.past_due_asc = sorted(
            (inv for inv in invoices
             if (inv.bill or ZERO) - inv.applied > 0
             and _due(inv) is not None and _due(inv) < as_of),
            key=lambda inv: (_due(inv), inv.number))
        self.past_due_desc = sorted(self.past_due_asc,
                                    key=lambda inv: (-_due(inv).toordinal(), inv.number))
        self.months = defaultdict(list)
        self.month_customer = defaultdict(list)
        self.last_seen = {}
        for inv in invoices:
            month = inv.inv_date.strftime("%Y-%m")
            self.months[month].append(inv)
            self.month_customer[month, inv.cust["name"]].append(inv)
            n = inv.cust["name"]
            self.last_seen[n] = max(self.last_seen.get(n, inv.inv_date), inv.inv_date)
        self.month_keys = sorted(self.months)
        self.names = sorted(self.ids)           # byte order == Spark string order

    def request(self, rng, kind):
        """(path, expected status, body fragments) for one request."""
        if kind == "past_due":
            desc = rng.random() < 0.25
            order = self.past_due_desc if desc else self.past_due_asc
            total = len(order)
            offset = 50 * rng.randrange(max(1, -(-total // 50)))
            frags = [f'"total": {total}', f'"offset": {offset}']
            if offset < total:
                frags.append(f'"invoice_number": "{order[offset].number}"')
            path = f"/invoices/past-due?as_of={AS_OF}&limit=50&offset={offset}"
            return (path + "&sort=due_date.desc" if desc else path), 200, frags
        if kind == "month":
            month = rng.choice(self.month_keys)
            rows = self.months[month]
            path = f"/invoices/summary/month?month={month}"
            if rng.random() < 0.5:
                name = rng.choice(self.names)
                rows = self.month_customer[month, name]
                path += "&customer_name=" + _q(_random_case(rng, name))
            currency = min((i.currency for i in rows), default="USD")
            total = sum((i.bill for i in rows if i.bill is not None), ZERO)
            return path, 200, [f'"currency": "{currency}"',
                               f'"sum_bill_total": "{total:.2f}"',
                               f'"count_invoices": {len(rows)}']
        if kind == "contact":
            name = rng.choice(self.names)
            cn, cp, ce = self.contacts[name]
            return f"/customers/contact?name={_q(name)}", 200, [
                f'"contact_name": {_jstr(cn)}', f'"contact_email": {_jstr(ce)}',
                f'"contact_phone": {_jstr(cp)}',
                f'"last_seen_invoice_date": "{self.last_seen[name]}"',
                '"total": 1']
        if kind == "invoice":
            inv = self.invoices[rng.randrange(len(self.invoices))]
            return f"/invoices/{inv.number}", 200, [
                f'"invoice_number": "{inv.number}"',
                f'"customer_name": "{inv.cust["name"]}"',
                f'"bill_total": {_jstr(None if inv.bill is None else f"{inv.bill:.2f}")}',
                f'"applied": "{inv.applied:.2f}"',
                f'"due_date": {_jstr(None if _due(inv) is None else str(_due(inv)))}']
        if kind == "customer":
            cid = rng.randrange(1, len(self.ids) + 1)
            return f"/customers/{cid}", 200, [f'{{"id": {cid}, "name": "{self.by_id[cid]}"']
        if kind == "customer_list":
            first = self.names[0]
            return "/customers/", 200, [f'[{{"id": {self.ids[first]}, "name": "{first}"']
        if kind == "health":
            return "/health", 200, ['{"status": "ok"}']
        if kind == "bad_invoice":
            return f"/invoices/ZZ{rng.randrange(10 ** 7):07d}", 404, []
        if kind == "bad_name":
            return f"/customers/contact?name={_q('No Such Customer %d' % rng.randrange(10 ** 6))}", 404, []
        if kind == "bad_month":
            return "/invoices/summary/month?month=2024-13", 400, []
        if kind == "bad_limit":
            return f"/invoices/past-due?as_of={AS_OF}&limit=abc", "4xx", []
        raise ValueError(kind)

    def plan(self, rng, n):
        """`n` requests in blocks of 100 that each hold the MIX exactly, in a
        seeded order within the block."""
        block = [k for k, share in MIX for _ in range(share)]
        kinds = []
        while len(kinds) < n:
            rng.shuffle(block)
            kinds += block
        return [(k, *self.request(rng, k)) for k in kinds[:n]]


def write_plan(path, plan):
    with open(path, "w") as f:
        for kind, p, status, frags in plan:
            f.write("\t".join([kind, p, str(status), *frags]) + "\n")
