"""Plan rendering: ``dot`` draws Catalyst's analyzed plan as Graphviz
text for the CLI's ``--explain-dot``."""
