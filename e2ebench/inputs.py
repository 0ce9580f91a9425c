"""Seeded inputs and their expected results.

Everything here runs before the Spark process starts, so none of it is
counted in set-up or op time. The same seed always gives the same files.

- ``write_tables``: the ten warehouse tables at the testdata's shapes and
  distributions (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), generated by DuckDB from hashes of (row, column, seed).
- ``agent_questions``: the NL→SQL agent's questions, one fixed template
  mix with seeded constants, each with its DuckDB answer.
- ``write_ingest``: a gold history drop and per-day bronze drops (ticket
  PDFs, ``;``-CSV settlement reports in both header dialects, bank-mail
  JSON) with re-deliveries, malformed mails and the gold each day must
  leave behind.
- ``curation_answer``: the registry's recursive-CTE answer for
  ``dedup_cluster_components``.
"""

from __future__ import annotations

import json
import os
import random
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from etl_expenses_spark.pdftext import make_pdf
from etl_expenses_spark.sources.readers import TESTDATA_TABLES

# Table sizes per unit of scale factor (TESTDATA.md: sf0.1 → 600k lineitem).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

# The testdata's documents vocabulary; near-duplicates add the word "dup".
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en",) * 11 + ("de", "es", "fr", "zh") * 4  # en ≈ 41%, others ≈ 15%


def _duck(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, salt) is uniform in [0, 1), a pure function of (row, column, seed)
    con.execute(f"CREATE MACRO u(i, salt) AS (hash(i, salt, {int(seed)}) % 1000003) / 1000003.0")
    return con


def _pick(options: list[str], salt: str) -> str:
    items = ",".join(f"'{o}'" for o in options)
    return f"[{items}][CAST(floor(u(i, '{salt}') * {len(options)}) AS INTEGER) + 1]"


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write ``<table>.parquet`` for every warehouse table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(int(r * sf), 20) for t, r in _ROWS_PER_SF.items()}
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    sql = {
        "region": """
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST(floor(u(i, 'cn') * 25) AS INTEGER) AS c_nationkey,
                   round(-999.99 + u(i, 'cb') * 10999.98, 2) AS c_acctbal,
                   {_pick(segments, 'cs')} AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST(floor(u(i, 'sn') * 25) AS INTEGER) AS s_nationkey,
                   round(-999.99 + u(i, 'sb') * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {_pick(['blue', 'old', 'small', 'new', 'large', 'hot', 'cold', 'red'], 'pa')}
                   || ' ' ||
                   {_pick(['widget', 'gizmo', 'ring', 'gear', 'bolt', 'plate', 'rod', 'anvil'], 'pn')}
                       AS p_name,
                   'Brand#' || CAST(floor(u(i, 'pb') * 25) + 1 AS INTEGER) AS p_brand,
                   {_pick(['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'], 'pt')}
                       AS p_type,
                   CAST(floor(u(i, 'ps') * 50) + 1 AS INTEGER) AS p_size,
                   round(900 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   CAST(floor(u(i, 'oc') * {n['customer']}) AS BIGINT) AS o_custkey,
                   {_pick(['F', 'O', 'P'], 'os')} AS o_orderstatus,
                   round(1000 + u(i, 'op') * 499000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(CAST(floor(u(i, 'od') * 2404) AS INTEGER))
                       AS o_orderdate,
                   {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'oo')}
                       AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT CAST(floor(u(i, 'lo') * {n['orders']}) AS BIGINT) AS l_orderkey,
                   CAST(floor(u(i, 'lp') * {n['part']}) AS BIGINT) AS l_partkey,
                   CAST(floor(u(i, 'ls') * {n['supplier']}) AS BIGINT) AS l_suppkey,
                   CAST(floor(u(i, 'll') * 7) + 1 AS INTEGER) AS l_linenumber,
                   floor(u(i, 'lq') * 50) + 1 AS l_quantity,
                   round(900 + u(i, 'le') * 104100, 2) AS l_extendedprice,
                   floor(u(i, 'ld') * 11) / 100 AS l_discount,
                   floor(u(i, 'lt') * 9) / 100 AS l_tax,
                   {_pick(['A', 'N', 'R'], 'lr')} AS l_returnflag,
                   {_pick(['O', 'F'], 'lx')} AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days(CAST(floor(u(i, 'lsd') * 2498) AS INTEGER))
                       AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": _events_sql(n["events"]),
        "embeddings": f"""
            SELECT i AS vec_id,
                   list_transform(range(64), j -> CAST(u(i * 64 + j, 'ev') - 0.5 AS FLOAT))
                       AS embedding,
                   CAST(floor(u(i, 'el') * 10) AS INTEGER) AS label
            FROM range({n['embeddings']}) t(i)""",
    }
    con = _duck(seed)
    for name, q in sql.items():
        con.execute(f"COPY ({q}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    write_documents(out_dir, n["documents"], seed)


def _events_sql(n: int) -> str:
    """Events in ``ts`` order over 30 days; value ~ Exp(mean 50)."""
    return f"""
        SELECT i AS event_id,
               TIMESTAMP '2024-01-01'
                   + to_microseconds(CAST((i + u(i, 'et')) / {n} * 2592000e6 AS BIGINT)) AS ts,
               CAST(floor(u(i, 'eu') * 1500) AS BIGINT) AS user_id,
               {_pick(['click', 'error', 'purchase', 'signup', 'view'], 'ey')} AS event_type,
               round(-50 * ln(1 - u(i, 'ev')), 2) AS value,
               '{{"k": ' || CAST(floor(u(i, 'ek') * 100) AS INTEGER) || '}}' AS props
        FROM range({n}) t(i)"""


def write_documents(out_dir: str, n: int, seed: int) -> None:
    """``documents.parquet`` as in the testdata: 10–100 words drawn
    uniformly from ``VOCAB``; 5% of docs are another doc's text plus
    `` dup``. The dups are planted in the shape of the testdata's own (its
    sf0.001 documents hold 25 dups in 500 docs, three of them dups of a dup
    and one of those a dup of a dup of a dup): one chain of three dups, one
    of two, and the rest dups of an original, ids rising along each chain.
    The shape fixes how many label-propagation rounds
    ``connected_components`` needs, so it is the same for every seed; the
    seed picks the texts and which docs take part."""
    rng = random.Random(f"documents-{seed}")
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))) for _ in range(n)]
    n_dups = max(n // 20, 1)
    chains = [3, 2] + [1] * (n_dups - 5) if n_dups >= 5 else [1] * n_dups
    members = iter(rng.sample(range(n), sum(c + 1 for c in chains)))
    for c in chains:
        ids = sorted(next(members) for _ in range(c + 1))
        for src, dup in zip(ids, ids[1:]):
            texts[dup] = texts[src] + " dup"
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, f"{out_dir}/documents.parquet")


def _views(con: duckdb.DuckDBPyConnection, table_dir: str) -> None:
    for t in TESTDATA_TABLES:
        if os.path.exists(f"{table_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")


# --------------------------------------------------------------------------
# agent_sql: question templates
# --------------------------------------------------------------------------

# Four templates, two without a join and two with joins, that between them
# cover the agent's query surface: MAX/SUM/COUNT, DISTINCT, CASE, date
# functions, GROUP BY, ORDER BY + LIMIT k and cross-table joins. Answers
# follow the registry's determinism rules: doubles are never summed (they
# are cast to DECIMAL first) and every LIMIT has a unique tiebreaker.
TEMPLATES = (
    "SELECT COUNT(*) AS orders, COUNT(DISTINCT o_custkey) AS buyers, MAX(o_totalprice) AS max_price "
    "FROM orders WHERE o_orderstatus = '{st}' AND o_orderdate >= DATE '{d1}' "
    "AND o_orderdate < DATE '{d2}'",
    "SELECT CASE WHEN l_quantity <= {qa} THEN 'small' WHEN l_quantity <= {qb} THEN 'medium' "
    "ELSE 'large' END AS size, month(l_shipdate) AS month, COUNT(*) AS items, "
    "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue, MAX(l_extendedprice) AS max_price "
    "FROM lineitem WHERE l_returnflag = '{flag}' AND year(l_shipdate) = {year} "
    "AND quarter(l_shipdate) = {qtr} GROUP BY 1, 2 ORDER BY 1, 2",
    "SELECT n.n_name, COUNT(*) AS orders, SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS spend "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_orderdate >= DATE '{d1}' AND c.c_mktsegment = '{seg}' "
    "GROUP BY n.n_name ORDER BY spend DESC, n.n_name LIMIT {k}",
    "SELECT r.r_name, COUNT(DISTINCT l.l_suppkey) AS suppliers, "
    "SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS units FROM lineitem l "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE l.l_shipdate >= DATE '{d1}' AND l.l_shipdate < DATE '{d2}' "
    "GROUP BY r.r_name ORDER BY r.r_name",
)


def _template_args(rng: random.Random) -> dict:
    year = rng.randint(1995, 2000)
    month = rng.randint(1, 12)
    end = month + rng.choice((1, 3, 12))
    qa = rng.randint(5, 20)
    return {
        "st": rng.choice("FOP"),
        "d1": f"{year}-{month:02d}-01",
        "d2": f"{year + (end - 1) // 12}-{(end - 1) % 12 + 1:02d}-01",
        "year": year,
        "qtr": rng.randint(1, 4),
        "qa": qa,
        "qb": qa + rng.randint(5, 25),
        "flag": rng.choice("ANR"),
        "seg": rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
        "k": rng.randint(5, 20),
    }


def cell(v) -> str:
    """A value as ``pipelines.result_markdown`` prints it."""
    return "" if v is None else str(v)


def agent_questions(table_dir: str, seed: int, per_template: int) -> list[dict]:
    """``per_template`` questions per template, interleaved so that every
    run cycles through the same template mix (one cycle = ``len(TEMPLATES)``
    ops). Each carries DuckDB's answer
    as the cells ``result_markdown`` must print."""
    rng = random.Random(f"agent-{seed}")
    con = _duck(seed)
    _views(con, table_dir)
    out = []
    for _ in range(per_template):
        for tmpl in TEMPLATES:
            sql = tmpl.format(**_template_args(rng))
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = [[cell(v) for v in r] for r in res.fetchall()]
            if len(rows) > 20:
                raise ValueError(f"question exceeds the agent's 20-row answer: {sql}")
            out.append({"sql": sql, "columns": cols, "rows": rows})
    con.close()
    return out


def curation_answer(table_dir: str, oracle_sql: str) -> list[list]:
    """Sorted (doc_id, cluster_id, is_canonical, cluster_size) rows."""
    con = duckdb.connect()
    _views(con, table_dir)
    rows = sorted([int(a), int(b), bool(c), int(d)] for a, b, c, d in con.execute(oracle_sql).fetchall())
    con.close()
    return rows


# --------------------------------------------------------------------------
# daily_ingest: bronze drops
# --------------------------------------------------------------------------

_PRODUCTS = {
    "Bebidas": ["Agua Mineral 2L", "Gaseosa Cola 1.5L", "Jugo Naranja 1L", "Cerveza Rubia 473ml",
                "Vino Tinto 750ml", "Soda Sifon 2L"],
    "Carniceria": ["Carne Picada", "Bife de Chorizo", "Pollo Entero", "Milanesa de Nalga", "Asado"],
    "Almacen": ["Arroz Largo' Fino", "Fideos Spaghetti", "Aceite Girasol 1.5L", "Yerba Mate 1kg",
                "Azucar 1kg", "Harina 000"],
    "Frutas Y Verduras": ["Tomate Redondo", "Papa Negra", "Banana Ecuador", "Manzana Roja", "Cebolla"],
    "Limpieza": ["Lavandina 1L", "Detergente 750ml", "Jabon en Polvo 3kg", "Esponja Doble"],
    "Perfumeria": ["Shampoo 400ml", "Pasta Dental", "Jabon de Tocador", "Desodorante"],
    "Hogar Bazar": ["Vaso Vidrio", "Pilas AA", "Lampara LED", "Repasador"],
}
_BY_WEIGHT = {"Carniceria", "Frutas Y Verduras"}
_CENT = Decimal("0.01")  # gold sums come back as DECIMAL(.., 2)

_MP_HEADERS = {
    "en": "SOURCE_ID;SETTLEMENT_DATE;PAYMENT_METHOD_TYPE;TRANSACTION_TYPE;TRANSACTION_AMOUNT;"
    "TRANSACTION_DATE;REAL_AMOUNT;POS_ID;STORE_ID;STORE_NAME;PAYER_NAME;BUSINESS_UNIT;SUB_UNIT",
    "es": "ID DE OPERACIÓN EN MERCADO PAGO;FECHA DE APROBACIÓN;TIPO DE MEDIO DE PAGO;"
    "TIPO DE OPERACIÓN;VALOR DE LA COMPRA;FECHA DE ORIGEN;MONTO NETO DE OPERACIÓN;ID DE CAJA;"
    "ID DE LA SUCURSAL;NOMBRE DE LA SUCURSAL;PAGADOR;CANAL DE VENTA;PLATAFORMA DE COBRO",
}
_MERCHANTS = ["MERPAGO*CAFE", "COTO", "YPF", "NETFLIX.COM", "MERPAGO*KIOSCO", "FARMACITY",
              "DIA TIENDA", "SUBE RECARGA"]


def _latam(x: Decimal, places: int = 2) -> str:
    """1234.5 → '1.234,50' (decimal comma, dot thousands)."""
    s = f"{x:,.{places}f}"
    return s.replace(",", "_").replace(".", ",").replace("_", ".")


class _Drop:
    """Builds one bronze drop and records what the flows must load from it."""

    def __init__(self, rng: random.Random, root: str) -> None:
        self.rng, self.root = rng, root
        for sub in ("tickets", "reports", "mails"):
            os.makedirs(f"{root}/{sub}", exist_ok=True)
        # ticket -> [items, sum of p_total]; report -> [rows, sum]; mail ids
        self.tickets: dict[str, list] = {}
        self.reports: dict[str, list] = {}
        self.mails: list[str] = []

    def ticket(self, nro: int) -> bytes:
        rng = self.rng
        lines = [
            "SUPERMERCADO EJEMPLO S.A.",
            f"Fecha {rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/25 "
            f"Hora {rng.randint(8, 21):02d}:{rng.randint(0, 59):02d}",
            f"Local 001 P.V. 0003 Nro T. {nro}",
            f"Caja {rng.randint(1, 20):02d}",
        ]
        total = Decimal(0)
        n_items = 0
        for categ in rng.sample(sorted(_PRODUCTS), rng.randint(2, 4)):
            lines.append(categ)
            for prod in rng.sample(_PRODUCTS[categ], rng.randint(1, 3)):
                unit = Decimal(rng.randint(50_00, 9_000_00)) / 100
                if categ in _BY_WEIGHT:
                    qty = Decimal(rng.randint(100, 2500)) / 1000
                    p_total = (qty * unit).quantize(_CENT)
                    qty_s = _latam(qty, 3)
                else:
                    qty = rng.randint(1, 4)
                    p_total = qty * unit
                    qty_s = str(qty)
                lines += [prod, f"{qty_s} x {_latam(unit)} (x) {_latam(p_total)}"]
                total += p_total
                n_items += 1
        discount = Decimal(rng.choice((0, 0, 150_00, 1_234_50))) / 100
        if discount:
            lines.append(f"AHORRO TOTAL $ {_latam(discount)}")
        lines.append(f"TOTAL {_latam(total - discount)}")
        self.tickets[str(nro)] = [n_items, str(total.quantize(_CENT))]
        return make_pdf(["\n".join(lines)])

    def report(self, report_id: str, dialect: str, n_rows: int) -> tuple[str, str]:
        rng = self.rng
        day = f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        rows = [_MP_HEADERS[dialect]]
        total = Decimal(0)
        for _ in range(n_rows):
            amount = Decimal(rng.randint(100, 5_000_000)) / 100
            net = (amount * Decimal("0.96")).quantize(_CENT)
            ts = f"{day} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
            rows.append(";".join([
                str(rng.randint(10**8, 2**31 - 1)), ts,
                rng.choice(("credit_card", "debit_card", "account_money")),
                rng.choice(("payment", "payment", "refund")),
                f"{amount:.2f}", ts, f"{net:.2f}",
                f"p{rng.randint(1, 9)}", f"st{rng.randint(1, 4)}",
                f"Store {rng.randint(1, 4)}", rng.choice(("Alice", "Bob", "Carol", "Dan")),
                rng.choice(("online", "presencial")), rng.choice(("checkout", "pos", "qr")),
            ]))
            total += amount
        self.reports[report_id] = [n_rows, str(total.quantize(_CENT))]
        return f"settlement_{day}_{report_id}.csv", "\n".join(rows) + "\n"

    def mail_body(self) -> str:
        rng = self.rng
        cents = Decimal(rng.randint(100, 50_000_000)) / 100
        monto = f"U$S {_latam(cents)}" if rng.random() < 0.2 else f"${_latam(cents)}"
        return (
            "<html><body><table>"
            f"<tr><td>Monto</td><td>{monto}</td></tr>"
            f"<tr><td>Fecha</td><td>{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/25</td></tr>"
            f"<tr><td>Hora</td><td>{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}</td></tr>"
            f"<tr><td>Comercio</td><td>{rng.choice(_MERCHANTS)}</td></tr>"
            f"<tr><td>Cuotas</td><td>{rng.randint(1, 6)}</td></tr>"
            f"<tr><td>Tarjeta Santander {rng.choice(('Visa', 'Amex'))}</td>"
            f"<td>terminada en</td><td>{rng.randint(1000, 9999)}</td></tr>"
            "</table></body></html>"
        )

    def write(self, sub: str, name: str, data: bytes | str) -> None:
        mode = "wb" if isinstance(data, bytes) else "w"
        with open(f"{self.root}/{sub}/{name}", mode) as f:
            f.write(data)

    def write_mail(self, message_id: str, body: str) -> None:
        doc = {"message_id": message_id, "date": "2025-04-26T17:09:43",
               "sender": "mensajesyavisos@mails.santander.com.ar",
               "subject": "Pagaste con tu tarjeta", "html_body": body, "raw_text": "..."}
        self.write("mails", f"{message_id}.json", json.dumps(doc))


def write_ingest(root: str, seed: int, tiny: bool) -> dict:
    """A history drop (loaded once into gold before any op) and the day
    drops the ops cycle through. Returns, per day, the rows each flow must
    load and the gold that must result."""
    rng = random.Random(f"ingest-{seed}")
    if tiny:
        hist_n, day_new, rows_per_report, n_days = (4, 2, 1), (2, 1, 1), 20, 2
    else:
        hist_n, day_new, rows_per_report, n_days = (24, 6, 24), (2, 1, 2), 50, 2
    n_tickets, n_reports, n_mails = hist_n
    ids = iter(rng.sample(range(10_000, 99_999), 4 * (n_tickets + n_days * 20)))

    hist = _Drop(rng, f"{root}/history")
    hist_pdfs, hist_reports, hist_bodies = [], [], []
    for _ in range(n_tickets):
        nro = next(ids)
        hist_pdfs.append((nro, hist.ticket(nro)))
        hist.write("tickets", f"t{nro}.pdf", hist_pdfs[-1][1])
    for k in range(n_reports):
        fname, text = hist.report(f"R{next(ids)}", ("en", "es")[k % 2], rows_per_report)
        hist_reports.append((fname, text))
        hist.write("reports", fname, text)
    for _ in range(n_mails):
        mid = f"m{next(ids)}"
        hist_bodies.append(hist.mail_body())
        hist.write_mail(mid, hist_bodies[-1])
        hist.mails.append(mid)

    days = []
    new_tickets, new_reports, new_mails = day_new
    for d in range(n_days):
        day = _Drop(rng, f"{root}/day{d}")
        for _ in range(new_tickets):
            nro = next(ids)
            day.write("tickets", f"t{nro}.pdf", day.ticket(nro))
        nro, pdf = rng.choice(hist_pdfs)  # re-delivered ticket
        day.write("tickets", f"t{nro}.pdf", pdf)
        for k in range(new_reports):
            fname, text = day.report(f"R{next(ids)}", ("es", "en")[k % 2], rows_per_report)
            day.write("reports", fname, text)
        day.write("reports", *rng.choice(hist_reports))  # re-delivered report
        for _ in range(new_mails):
            mid = f"m{next(ids)}"
            day.write_mail(mid, day.mail_body())
            day.mails.append(mid)
        # a malformed mail (its Monto row is missing) and a re-delivered payment
        body = day.mail_body()
        day.write_mail(f"m{next(ids)}", "<html><body><table>" + body[body.index("</tr>") + 5:])
        day.write_mail(f"m{next(ids)}", rng.choice(hist_bodies))
        days.append({
            "bronze": day.root,
            "loaded": {
                "tickets": sum(n for n, _ in day.tickets.values()),
                "reports": sum(n for n, _ in day.reports.values()),
                "mails": len(day.mails),
            },
            "gold": {
                "tickets": {**hist.tickets, **day.tickets},
                "reports": {**hist.reports, **day.reports},
                "mails": sorted(hist.mails + day.mails),
            },
        })
    return {"history": hist.root, "days": days}
