"""Column-expression helpers (JVM-side built-ins, no UDFs): ``render``
derives the HTML/CSV result columns."""
