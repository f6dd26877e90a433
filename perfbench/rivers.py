"""The live rapid's river set, built with the public API only.

Every reply carries ``@forårsaket_av.id`` (the id of the message it
answers) and ``river``, so the checks can match replies to the messages
the generator published.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rapids_and_rivers_spark import River
from rapids_and_rivers_spark.functions import predicates as P

from perfbench.gen import EVENT_TYPES, REQUIRED_KEYS

#: the live rapid's Python-listener river; the others use Catalyst responders
LISTENER_TYPE = "purchase"


def enrich_and_publish(packet, context) -> None:
    """Behov-style listener: solve the need on the packet, republish it."""
    packet["@løsning"] = {"pris": round(float(packet["value"]) * 1.25, 2)}
    packet["river"] = LISTENER_TYPE
    context.publish(packet)


def _reply(river: str) -> callable:
    """A responder that answers each passing message with one reply."""

    def respond(passing):
        fields = [
            F.lit("@event_name"), F.lit(f"{river}_handled"),
            F.lit("river"), F.lit(river),
            F.lit("@forårsaket_av"), F.named_struct(F.lit("id"), River.field("@id")),
        ]
        return passing.select(
            F.to_json(F.named_struct(*fields)).alias("value"),
            F.col("key"),
        )

    return respond


def live_rivers(wrap=lambda name, fn: fn) -> list[River]:
    """One river per event type. ``purchase`` runs the Python listener;
    the other four answer with Catalyst responders. ``wrap(name, fn)``
    lets the traced run time each responder call."""
    rivers = []
    for etype in EVENT_TYPES:
        river = (
            River(etype)
            .precondition(P.require_value("@event_name", etype))
            .validate(P.require_key(*REQUIRED_KEYS))
        )
        if etype == LISTENER_TYPE:
            river.on_packet(enrich_and_publish)
        else:
            river.respond(wrap(etype, _reply(etype)))
        rivers.append(river)
    return rivers
