"""CLI (reference parity: wurzel/cli/_main.py — run / inspect / env / generate).

    python -m wurzel_spark run manifest.yaml [--materialize-dir DIR] [--out DIR]
                                             [--only STEP]
    python -m wurzel_spark inspect manifest.yaml
    python -m wurzel_spark env manifest.yaml
    python -m wurzel_spark generate manifest.yaml --backend {dvc,argo}

``run`` without ``--only`` runs the whole graph in one Spark application,
each non-terminal step's output cached once at its step boundary — a Spark
pipeline IS the artifact. ``generate`` exists for reference parity
(SURVEY §3.2): it emits dvc.yaml / Argo Workflow YAML whose per-step cmds
re-enter this CLI with ``--only STEP``, for environments that want DVC's
cross-run memoization or pod-per-step isolation.
"""

from __future__ import annotations

import argparse
import sys


def _cmd_run(args) -> int:
    from wurzel_spark import get_spark
    from wurzel_spark.manifest import Manifest, run_manifest, run_single_step, save_sorted

    m = Manifest.from_file(args.manifest)
    spark = get_spark(m.name)
    if args.only:
        if not args.materialize_dir:
            print("--only requires --materialize-dir", file=sys.stderr)
            return 2
        df = run_single_step(
            spark,
            m,
            args.only,
            args.materialize_dir,
            encapsulate=not args.no_encapsulate_env,
        )
        print(f"{args.only}: {df.count()} rows, schema={df.schema.simpleString()}")
        return 0
    outs = run_manifest(spark, m, materialize_dir=args.materialize_dir)
    for name, df in outs.items():
        # With --out the count and the write are two actions on the same
        # lazy terminal: cache it so its graph runs once, not twice.
        if args.out:
            df.persist()
        try:
            n = df.count()
            print(f"{name}: {n} rows, schema={df.schema.simpleString()}")
            if args.out:
                import os

                save_sorted(df, os.path.join(args.out, name))
        finally:
            df.unpersist()
    return 0


def _cmd_inspect(args) -> int:
    from wurzel_spark.manifest import Manifest

    m = Manifest.from_file(args.manifest)
    print(f"pipeline: {m.name}")
    if m.schedule:
        print(f"schedule: {m.schedule}")
    for name in m.topo_order():
        s = m.steps[name]
        deps = f" <- {', '.join(s.depends_on)}" if s.depends_on else " (leaf)"
        print(f"  {name}: {s.uses}{deps}")
    print(f"terminals: {', '.join(m.terminals())}")
    return 0


def _cmd_env(args) -> int:
    """The env vars each step would read ({STEP}__{FIELD},
    core/settings.py:44), with the reference env_cmd's three modes
    (cli/_main.py:514-570): the default listing marks required vs
    optional (required = manifest value null — no default to fall back
    on); ``--gen-env`` emits .env content seeded from the current
    environment or the manifest defaults; ``--check`` exits 1 listing
    required vars missing from the environment."""
    import os

    from wurzel_spark.manifest import Manifest

    m = Manifest.from_file(args.manifest)
    rows = []  # (step, var, default, required)
    for name in m.topo_order():
        for k, v in m.steps[name].settings.items():
            var = f"{name.upper()}__{k.upper()}"
            required = v is None
            if args.only_required and not required:
                continue
            rows.append((name, var, v, required))

    if args.check:
        missing = [var for _, var, _, req in rows if req and var not in os.environ]
        if missing:
            print("Missing environment variables:")
            for var in missing:
                print(f"  {var}")
            print("Hint: run 'python -m wurzel_spark env --gen-env' "
                  "to see the expected values.")
            return 1
        print("All required environment variables are set.")
        return 0

    if args.gen_env:
        print("# Generated env vars\n")
        current_step = None
        for step, var, default, _req in rows:
            if step != current_step:
                if current_step is not None:
                    print()
                print(f"# {step}")
                current_step = step
            value = os.environ.get(var, "" if default is None else str(default))
            print(f"{var}={value}")
        print()
        return 0

    for _step, var, default, required in rows:
        flag = "required" if required else "optional"
        print(f"{var} ({flag}) default={'-' if default is None else default}")
    return 0


def _cmd_validate(args) -> int:
    """Aggregated semantic validation (reference ManifestValidator,
    wurzel/manifest/validator.py): print EVERY error — dangling refs,
    cycles, unresolvable `uses`, unregistered middlewares — instead of
    failing on the first, exit 1 when any exist."""
    from wurzel_spark.manifest import Manifest, ManifestError, ManifestValidator

    # parse WITHOUT the fail-fast validate so the validator can report
    # every problem at once
    try:
        with open(args.manifest, encoding="utf-8") as f:
            manifest = Manifest._parse(f.read())
    except ManifestError as e:
        print(e)
        return 1
    errors = ManifestValidator(manifest).validate_all(
        middlewares=args.middlewares.split(",") if args.middlewares else None
    )
    for e in errors:
        print(e)
    if not errors:
        print("OK")
    return 1 if errors else 0


def _cmd_generate(args) -> int:
    from wurzel_spark.backends import generate_argo, generate_dvc
    from wurzel_spark.manifest import Manifest

    m = Manifest.from_file(args.manifest)
    if args.backend == "dvc":
        print(generate_dvc(m, args.manifest, args.data_dir), end="")
    else:
        print(generate_argo(m, args.manifest, args.data_dir, args.image), end="")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="wurzel_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run a pipeline manifest")
    r.add_argument("manifest")
    r.add_argument("--materialize-dir", default=None)
    r.add_argument("--out", default=None)
    r.add_argument("--only", default=None, help="run a single step (backend re-entry)")
    r.add_argument(
        "--no-encapsulate-env",
        action="store_true",
        help="skip per-step env encapsulation (DVC encapsulateEnv: false)",
    )
    r.set_defaults(fn=_cmd_run)

    g = sub.add_parser("generate", help="emit a DVC/Argo backend artifact")
    g.add_argument("manifest")
    g.add_argument("--backend", choices=["dvc", "argo"], default="dvc")
    g.add_argument("--data-dir", default="data")
    g.add_argument("--image", default="spark:latest")
    g.set_defaults(fn=_cmd_generate)

    v = sub.add_parser("validate", help="aggregate all manifest errors")
    v.add_argument("manifest")
    v.add_argument(
        "--middlewares", default=None,
        help="comma-separated middleware names to check against the registry",
    )
    v.set_defaults(fn=_cmd_validate)

    i = sub.add_parser("inspect", help="show the step graph")
    i.add_argument("manifest")
    i.set_defaults(fn=_cmd_inspect)

    e = sub.add_parser("env", help="list env vars the steps read")
    e.add_argument("--gen-env", action="store_true",
                   help="emit .env content instead of a listing")
    e.add_argument("--check", action="store_true",
                   help="exit 1 if required env vars are missing")
    e.add_argument("--only-required", action="store_true",
                   help="hide optional (defaulted) variables")
    e.add_argument("manifest")
    e.set_defaults(fn=_cmd_env)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
