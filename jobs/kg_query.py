#!/usr/bin/env python3
"""spark-submit entrypoint: query a built knowledge graph.

The consumption-side CLI over ``build_kg.py``'s output — one SPARQL
query (the subset in ``operators/sparql.py``) against the
``<kg>/triples`` table without writing Python:

    # BGP with FILTER, OPTIONAL and FILTER NOT EXISTS
    spark-submit jobs/kg_query.py --triples /data/kg/triples \
        --sparql 'SELECT ?cred ?i ?p WHERE {
                    ?cred <https://www.w3.org/2018/credentials#issuer> ?i .
                    OPTIONAL { ?cred <...#credentialSubject> ?p }
                    FILTER(STRSTARTS(?i, "did:"))
                    FILTER NOT EXISTS { ?cred <...#type> <...#Revoked> } }' \
        --out /data/answers

    # property path (sequence / alternation / ^ / ! / + * ? /
    # parenthesised groups); a ground endpoint runs the seeded frontier
    # tier (no full closure), two ground endpoints the
    # meet-in-the-middle tier
    spark-submit jobs/kg_query.py --triples /data/kg/triples \
        --sparql 'SELECT ?doc WHERE {
                    ?doc <...#verifiableCredential>?/<...#issuer>
                         <did:key:...> }' \
        --limit 20

    # UNION groups
    spark-submit jobs/kg_query.py --triples /data/kg/triples \
        --sparql 'SELECT * WHERE {
                    { ?c <...#issuer> ?i } UNION { ?c <...#holder> ?i } }'

    # GROUP BY with an aggregate and HAVING
    spark-submit jobs/kg_query.py --triples /data/kg/triples \
        --sparql 'SELECT ?i (COUNT(DISTINCT ?c) AS ?n) WHERE {
                    ?c <...#issuer> ?i } GROUP BY ?i HAVING(?n > 1)'

ASK, CONSTRUCT and DESCRIBE, BIND, VALUES, MINUS, GRAPH and
subqueries are in the subset too.  Without --out, prints up to --limit
rows as TSV to stdout (small results only — the point of --out is that
answers stay distributed).
"""

from __future__ import annotations

import argparse
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--triples", required=True,
                    help="parquet dir with (subj, pred, obj, ...) rows")
    ap.add_argument("--sparql", required=True,
                    help="a SPARQL query string — SELECT, ASK, "
                         "CONSTRUCT or DESCRIBE (subset: patterns, "
                         "property paths, OPTIONAL groups, GRAPH "
                         "groups, FILTER, EXISTS/NOT EXISTS, MINUS, "
                         "BIND, VALUES, UNION, { SELECT } subqueries, "
                         "GROUP BY/HAVING aggregates, ORDER BY, "
                         "LIMIT/OFFSET; see operators/sparql.py)")
    ap.add_argument("--out", default=None,
                    help="write the full answer set as parquet here")
    ap.add_argument("--limit", type=int, default=50,
                    help="stdout row cap when --out is not given")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from cbor_ld_spark.operators.sparql import run_sparql

    existing = SparkSession.getActiveSession()
    b = SparkSession.builder.appName("kg_query")
    if args.master:
        b = b.master(args.master)
    spark = b.getOrCreate()
    try:
        result = run_sparql(spark.read.parquet(args.triples), args.sparql)
        if args.out:
            result.write.mode("overwrite").parquet(args.out)
            print(f"wrote {spark.read.parquet(args.out).count()} rows "
                  f"to {args.out}")
        else:
            print("\t".join(result.columns))
            for row in result.orderBy(*result.columns)\
                    .limit(args.limit).collect():
                print("\t".join("" if v is None else str(v)
                                for v in row))
        return 0
    finally:
        # stop only a session this invocation created — under tests a
        # shared session is live and must survive the call
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
